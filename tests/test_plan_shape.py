"""Physical-plan shape assertions — the 100 TB posture, checked as code.

`.explain()` claims in docstrings rot; these tests pin the plan properties
that matter at scale: filters/columns pushed into the parquet scan, dims
broadcast, partial aggregation before the exchange, bounded broadcasts for
the non-equi/cosine paths, bucketed co-located joins planned without a
shuffle, and partition pruning on lake layouts.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from projet_pipeline_bigdata_org_spark import plans

plans.load_all()
_Q = plans.registry.all_specs()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@pytest.fixture
def no_auto_broadcast(spark):
    """Plan as a large cluster would: nothing auto-broadcasts (at 100 TB the
    fact tables never fit the threshold); only explicit F.broadcast hints
    survive. Restores the session conf afterwards."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, prev)


def test_flagship_join_broadcasts_dims_and_pushes_date_filter(
    spark, sf_dir, no_auto_broadcast
):
    df = _Q["join_multiway_revenue_by_nation"].fn(spark, sf_dir)
    p = formatted_plan(df)
    # nation + region ride EXPLICIT broadcast hints even with auto-broadcast
    # off; lineitem⋈orders (and the customer join) shuffle on their keys
    assert p.count("BroadcastHashJoin") >= 2, p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p), p
    # the o_orderdate range predicate reaches the orders parquet scan
    m = re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate", p)
    assert m, f"date filter not pushed to scan:\n{p}"


def test_filter_predicates_pushdown_and_column_pruning(spark, sf_dir):
    df = _Q["filter_predicates"].fn(spark, sf_dir)
    p = formatted_plan(df)
    assert "PushedFilters" in p and "GreaterThanOrEqual(l_quantity,5.0)" in p, p
    # projection prunes the 16-column lineitem scan to the 6 referenced cols
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    read_cols = [c.split(":")[0] for c in m.group(1).split(",")]
    # 5 projected + 2 filter-only columns, out of lineitem's 16
    assert len(read_cols) <= 7, f"scan reads too many columns: {read_cols}"


def test_agg_partial_before_exchange(spark, sf_dir):
    df = _Q["agg_pricing_summary"].fn(spark, sf_dir)
    p = plan_of(df)
    # two-phase agg: a partial HashAggregate must appear below the exchange
    first_exchange = p.find("Exchange")
    assert first_exchange != -1
    assert "HashAggregate" in p[first_exchange:], p
    assert "HashAggregate" in p[:first_exchange] or p.count("HashAggregate") >= 2, p


def test_topk_uses_per_partition_heaps_not_global_sort(spark, sf_dir):
    df = _Q["arrange_topn_orders"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "TakeOrderedAndProject" in p, p


def test_cosine_topk_broadcasts_query_block_not_corpus(spark, sf_dir):
    df = _Q["embed_cosine_topk"].fn(spark, sf_dir)
    p = plan_of(df)
    # the 10-vector query block broadcasts; the corpus side must NOT go
    # through a shuffle exchange before the join
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "BroadcastExchange" in p, p
    # the only hash shuffle is the per-query rank over ALREADY-REDUCED rows:
    # a Partial WindowGroupLimit (top-k per partition) sits below the
    # exchange, so at most k rows per query per partition travel — the
    # corpus itself never repartitions
    assert p.count("Exchange hashpartitioning") == 1, p
    ex = p.find("Exchange hashpartitioning")
    assert "WindowGroupLimit" in p[ex:] and "Partial" in p[ex:], (
        f"no partial top-k below the rank exchange:\n{p}"
    )


def test_bucketed_tables_join_without_shuffle(
    spark, sf_dir, tmp_path, no_auto_broadcast
):
    """Co-located fact-fact join: both sides bucketed by the join key into
    the same bucket count → the join plans as a sort-merge over bucketed
    scans with ZERO shuffle exchanges (auto-broadcast disabled so the
    planner faces the fact-fact situation it would at 100 TB)."""
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.sources.batch import write_bucketed_table

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed_table(
        o, "bt_orders", ["o_orderkey"], 8, str(tmp_path / "bt_orders"),
        sort_cols=["o_orderkey"],
    )
    write_bucketed_table(
        li, "bt_lineitem", ["l_orderkey"], 8, str(tmp_path / "bt_lineitem"),
        sort_cols=["l_orderkey"],
    )
    try:
        j = spark.table("bt_lineitem").join(
            spark.table("bt_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        p = plan_of(j)
        assert "SortMergeJoin" in p, p
        assert "Exchange hashpartitioning" not in p and "ShuffleExchange" not in p, (
            f"bucketed join still shuffles:\n{p}"
        )
        # and it still computes the right thing
        n = j.count()
        assert n == load(spark, sf_dir, "lineitem").count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_orders")
        spark.sql("DROP TABLE IF EXISTS bt_lineitem")


def test_partitioned_lake_prunes_partitions(spark, sf_dir, tmp_path):
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.sources.batch import (
        read_lake,
        write_partitioned_parquet,
    )

    e = load(spark, sf_dir, "events")
    path = str(tmp_path / "lake")
    write_partitioned_parquet(e, path, ["event_type"])
    scan = read_lake(spark, path).filter(F.col("event_type") == "purchase")
    p = formatted_plan(scan)
    m = re.search(r"PartitionFilters: \[[^\]]*event_type[^\]]*\]", p)
    assert m, f"no partition filter in scan:\n{p}"
    got = scan.count()
    want = e.filter(F.col("event_type") == "purchase").count()
    assert got == want


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join handling, demonstrated: a join where one key holds
    ~100x the rows of any other must execute with the skewed partition
    SPLIT (final adaptive plan marks the sort-merge join skew=true) —
    the runtime safety net behind every fact-fact join in this engine."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.shuffle.partitions": "8",
        # the terminal aggregate below would otherwise make AQE skip the
        # split ("introduces extra shuffle"); real pipelines usually write
        # after the join, where no force is needed
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # hot key 0 carries 200k rows; keys 1..99 carry ~2k each. The
        # payload is incompressible (md5) AND referenced by the aggregate —
        # a bare count() lets column pruning strip it from the shuffle and
        # the hot partition compresses below any realistic threshold
        big = spark.range(400_000).select(
            F.when(F.col("id") < 200_000, 0)
            .otherwise(F.col("id") % 99 + 1)
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        dim = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        # aggregate ON TOP of the join so executing THIS DataFrame finalizes
        # its own adaptive plan (df.count() would run a separate execution)
        j = (
            big.join(dim, "k")
            .groupBy()
            .agg(F.count(F.lit(1)).alias("n"), F.max("payload").alias("mp"))
        )
        rows = j.collect()
        assert rows[0].n == 400_000
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in p, p
        assert "skew=true" in p, f"AQE did not mark the skewed join:\n{p}"
        # reader line prints "skewed" or "skewed and coalesced" per confs
        assert re.search(r"AQEShuffleRead.*skewed", p), p
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_salted_join_spreads_hot_key_across_partitions(spark):
    """The salted join must do what salting is FOR: a hot key's rows, which
    a plain hash-partitioned join sends to ONE reducer, must land in many
    shuffle partitions under salting. Measured directly (spark_partition_id
    on the joined rows), not inferred from the plan text — AQE off so
    coalescing can't merge the spread away at test scale."""
    from pyspark.sql import functions as F

    from projet_pipeline_bigdata_org_spark.functions.skew import salted_join

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "16",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        hot, n_hot = 42, 20_000
        big = spark.range(n_hot + 1_000).select(
            F.when(F.col("id") < n_hot, hot).otherwise(F.col("id") % 50).alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 7).alias("v"))

        def hot_partitions(joined):
            return (
                joined.withColumn("pid", F.spark_partition_id())
                .filter(F.col("k") == hot)
                .select("pid")
                .distinct()
                .count()
            )

        assert hot_partitions(big.join(dim, "k")) == 1  # the problem
        spread = hot_partitions(salted_join(big, dim, "k", n_salts=16))
        assert spread >= 8, f"hot key only spread to {spread} partitions"
        # result invariance rides the registered query's plain-join oracle;
        # re-assert the row count here so the spread isn't from dup/drop
        assert salted_join(big, dim, "k", n_salts=16).count() == n_hot + 1_000
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_gopher_rules_is_single_stage_projection(spark, sf_dir):
    """The quality filter must be scan → flags with no shuffle: at 100 TB a
    quality pass that exchanges data would dominate the job."""
    df = _Q["lex_gopher_rules"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "Exchange" not in p, p
    assert "Scan parquet" in p
    # only doc_id and text leave the scan
    m = re.search(r"ReadSchema: struct<([^>]*)>", formatted_plan(df))
    assert m and set(m.group(1).split(",")) == {"doc_id:bigint", "text:string"}, m


def test_decontaminate_broadcasts_benchmark_dictionary(spark, sf_dir):
    """The benchmark shingle dictionary is the small side by construction
    (an eval set vs the corpus) — the hit join must be a broadcast join, so
    the corpus postings stream map-side instead of shuffling."""
    df = _Q["lex_decontaminate"].fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()  # finalize AQE
    p = plan_of(df)
    assert "BroadcastHashJoin" in p, p


def test_fuzzy_banding_broadcasts_exploded_supplier_side(spark, sf_dir):
    """The (nation, length-band) blocking join: the exploded supplier side
    stays the build/broadcast side under AQE; the customer side streams
    with no pre-join shuffle."""
    df = _Q["pair_fuzzy_levenshtein"].fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    p = plan_of(df)
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime bloom-filter injection (Spark 3.3+): a selective dim-side
    filter materializes a bloom filter that is pushed onto the fact side
    BEFORE its shuffle — at 100 TB this drops most fact rows at the scan
    instead of shuffling them. The thresholds are lowered to make the
    optimizer fire at toy scale; the assertion is the plan shape itself
    (bloom_filter_agg on the creation side, might_contain on the fact
    side), which is scale-independent."""
    from projet_pipeline_bigdata_org_spark.catalog import load

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        o = load(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load(spark, sf_dir, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = plan_of(j)
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        # the probe sits on the fact (lineitem) side, below its exchange
        fact_filter = [
            ln for ln in plan.splitlines() if "might_contain" in ln
        ][0]
        assert "l_orderkey" in fact_filter
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_winsorize_windows_over_compressed_distribution_not_raw_rows(spark, sf_dir):
    """stat_winsorize partitions its window by a 5-value key — safe ONLY
    because the window input is the distinct (prio, cents) -> count
    distribution, not the raw orders table. Pin that: below the LAST Window
    node the plan must compress via a HashAggregate keyed on (prio, cents)
    before any file scan, and the bounded threshold table must come back
    via a broadcast join (no second shuffle of the distribution)."""
    df = _Q["stat_winsorize"].fn(spark, sf_dir)
    p = plan_of(df)
    last_window = p.rfind("Window")
    assert last_window != -1, p
    below = p[last_window:]
    assert re.search(r"HashAggregate\(keys=\[prio#\d+, cents#\d+L\]", below), (
        f"window input is not the compressed (prio, cents) distribution:\n{p}"
    )
    assert "BroadcastHashJoin" in p, p


def test_exact_percentiles_window_over_compressed_distribution(spark, sf_dir):
    """stat_exact_percentiles shares stat_winsorize's scale contract: the
    window input must be the distinct (prio, cents) aggregate, never the
    raw orders rows."""
    df = _Q["stat_exact_percentiles"].fn(spark, sf_dir)
    p = plan_of(df)
    last_window = p.rfind("Window")
    assert last_window != -1, p
    assert re.search(
        r"HashAggregate\(keys=\[prio#\d+, cents#\d+L\]", p[last_window:]
    ), f"window input is not the compressed distribution:\n{p}"


def test_pack_sequences_windows_per_shard_not_single_partition(spark, sf_dir):
    """The packing window partitions by shard — the plan must hash-partition
    on shard, never collapse to SinglePartition (the global-ORDER-BY window
    trap that serializes a 100 TB sort onto one task)."""
    df = _Q["pack_sequences"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert re.search(r"hashpartitioning\(shard", plan)
    assert "SinglePartition" not in plan


def test_select_token_budget_windows_per_shard(spark, sf_dir):
    """The budget-selection window partitions by the configurable shard key
    — same discipline as pack_sequences, never SinglePartition."""
    df = _Q["select_token_budget"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert re.search(r"hashpartitioning\(shard", plan)
    assert "SinglePartition" not in plan


def test_mix_temperature_broadcasts_thresholds(spark, sf_dir):
    """The per-source threshold table (|sources| rows) must broadcast back
    onto the corpus; the only corpus-wide exchange is the final partial-
    agg'd rollup on source."""
    df = _Q["mix_temperature_sources"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p, p
    # corpus-side shuffles: the final rollup only (threshold aggs are on
    # the tiny counts side and also partial-agg'd)
    assert p.count("Exchange hashpartitioning") <= 2, p


def test_pack_shard_fanout_tracks_config(spark, sf_dir):
    """N_SHARDS follows the engine's shuffle fan-out, and the shard layout
    actually has that many shards — the registered default must produce
    more distinct shards than the old hard-coded 8 ever could."""
    from projet_pipeline_bigdata_org_spark.operators import packing
    from projet_pipeline_bigdata_org_spark.session import DEFAULT_SHUFFLE_PARTITIONS

    assert packing.N_SHARDS == DEFAULT_SHUFFLE_PARTITIONS > 8
    df = _Q["pack_sequences"].fn(spark, sf_dir)
    n_shards = df.select("shard").distinct().count()
    assert n_shards == packing.N_SHARDS, (
        f"expected {packing.N_SHARDS} shards, saw {n_shards}"
    )


@pytest.mark.parametrize(
    "qname",
    ["pack_sequences", "pack_bins_nextfit", "pack_bin_fill", "select_token_budget"],
)
def test_sharded_queries_parity_at_non_default_shard_count(spark, sf_dir, qname):
    """Full Spark-vs-DuckDB parity for every shard-fanned query (the three
    packing queries + the curation token-budget selection) at a NON-default
    fan-out (5 shards): the `*_at` builders and `*_oracle` templates must
    agree for any shard count, proving the fan-out knob is
    semantics-preserving (reshard at will as the corpus grows)."""
    from tests.parity import _table_to_rows, duckdb_connect

    from projet_pipeline_bigdata_org_spark.operators import curation, packing

    mod = curation if qname == "select_token_budget" else packing
    n = 5
    sdf = getattr(mod, f"{qname}_at")(spark, sf_dir, n)
    con = duckdb_connect(sf_dir)
    try:
        d_tbl = con.execute(getattr(mod, f"{qname}_oracle")(n)).fetch_arrow_table()
    finally:
        con.close()
    s_cols, s_rows = _table_to_rows(sdf.toArrow())
    d_cols, d_rows = _table_to_rows(d_tbl)
    assert s_cols == d_cols and s_rows == d_rows


def test_incremental_dedup_joins_slim_hash_keys_only(spark, sf_dir):
    """dedup_incremental_exact's join must carry content hashes, never the
    text column: the scan prunes to (doc_id, text, source), text dies at
    the sha2 projection below the exchange, and the rollup partial-aggs
    map-side. No nested-loop/cartesian anywhere."""
    df = _Q["dedup_incremental_exact"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    # partial aggregation before the final rollup exchange
    assert re.search(r"partial_count", p), p
    # every exchange ships hash/source/count columns only — the raw text
    # column never crosses a shuffle boundary
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
    assert exchanges, f"no hash exchanges found (plan form changed?):\n{p}"
    for ex in exchanges:
        assert "text" not in ex, f"text column shuffles: {ex}\n{p}"


def test_incremental_minhash_certified_same_shuffle_shape(spark, sf_dir):
    """The r13 certified incremental twin must keep the production plan's
    scale shape: band-key-only exchanges (the shingle array never crosses
    a band-join shuffle), the one persisted shingle stage, and no
    cartesian/nested-loop join — the sha certification cost may not
    change the shuffle contract."""
    df = _Q["dedup_incremental_minhash_certified"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "InMemoryTableScan" in p, p
    band_exchanges = [
        ex
        for ex in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
        if "band" in ex or "bucket" in ex
    ]
    assert band_exchanges, f"no band-key exchanges found (plan form changed?):\n{p}"
    for ex in band_exchanges:
        assert "sh" not in ex.split(", ") and "text" not in ex, ex


def test_maxsim_broadcasts_query_side_no_cartesian(spark, sf_dir):
    """sim_maxsim_multivector's per-dim dot join must BROADCAST the tiny
    query sub-vector block (the corpus side never repartitions for it)
    and contain no cartesian product; the max/sum stages are partial-
    agg'd (two-phase) aggregations."""
    df = _Q["sim_maxsim_multivector"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastExchange" in p and "BroadcastHashJoin" in p, p
    assert "partial_max" in p or "partial" in p.lower(), p


def test_lsh_certified_broadcast_bank_and_candidate_verify(spark, sf_dir):
    """sim_ann_lsh_certified: the coefficient bank rides a broadcast into
    the projection join (the corpus per-dim table never repartitions for
    it), the band self-join is an equi-join (no cartesian), and the
    verify stage joins candidates only (dots computed after the
    dropDuplicates'd candidate set, never all-pairs)."""
    df = _Q["sim_ann_lsh_certified"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "BroadcastExchange" in p, p
    bucket_exchanges = [
        ex
        for ex in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
        if "bucket" in ex
    ]
    assert bucket_exchanges, f"no bucket-key exchange (plan form changed?):\n{p}"


def test_incremental_minhash_band_join_is_slim_and_staged(spark, sf_dir):
    """dedup_incremental_minhash's candidate join must be an equi-join on
    (band, bucket) — no cartesian/nested-loop anywhere — and both LSH sides
    plus the verify step must read the ONE persisted shingle stage
    (InMemoryTableScan), not re-shingle the corpus per side. The band-join
    exchanges carry only slim band keys: the shingle array never crosses a
    band-join shuffle (it ships only in the by-doc_id verify joins)."""
    df = _Q["dedup_incremental_minhash"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "InMemoryTableScan" in p, p
    band_exchanges = [
        ex
        for ex in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
        if "band" in ex or "bucket" in ex
    ]
    assert band_exchanges, f"no band-key exchanges found (plan form changed?):\n{p}"
    for ex in band_exchanges:
        assert "sh" not in ex.split(", ") and "text" not in ex, ex


def test_minhash_verify_join_against_bucketed_shingle_store_no_history_exchange(
    spark, sf_dir, tmp_path, no_auto_broadcast
):
    """The 100 TB wiring for dedup_incremental_minhash's exact-Jaccard
    verify: the historical shingle store staged via write_bucketed_table
    bucketed by doc_id joins the (candidate-sized) batch side WITHOUT
    shuffling the history table — the only exchange in the plan is the
    batch side hashing into the history's bucket layout."""
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.textops import (
        shingles,
        ws_tokens,
    )
    from projet_pipeline_bigdata_org_spark.sources.batch import write_bucketed_table

    hist_sh = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.array_distinct(shingles(ws_tokens("text"))).alias("sh"),
        )
        .filter(F.size("sh") > 0)
    )
    write_bucketed_table(
        hist_sh, "bt_hist_shingles", ["doc_id"], 8,
        str(tmp_path / "bt_hist_shingles"), sort_cols=["doc_id"],
    )
    try:
        cand = spark.createDataFrame(
            [(1, 7, ["a b c", "b c d"])],
            "batch_id long, history_id long, sh_b array<string>",
        )
        h = spark.table("bt_hist_shingles")
        inter = F.size(F.array_intersect("sh_b", "sh"))
        union = F.size("sh_b") + F.size("sh") - inter
        verify = cand.join(h, F.col("history_id") == F.col("doc_id")).select(
            "batch_id",
            "history_id",
            (inter.cast("double") / union).alias("jaccard"),
        )
        p = plan_of(verify)
        assert "SortMergeJoin" in p, p
        exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
        assert len(exchanges) == 1, f"expected only the batch-side exchange:\n{p}"
        assert "history_id" in exchanges[0] and "doc_id" not in exchanges[0], (
            f"the HISTORY side shuffled:\n{p}"
        )
        assert "Bucketed: true" in formatted_plan(verify), formatted_plan(verify)
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_hist_shingles")


def test_holdout_split_single_pass_partial_agg(spark, sf_dir):
    """curate_split_holdout is one corpus pass: pruned scan, one
    hash-partitioned exchange for the (source, split) rollup, partial
    aggregation below it."""
    df = _Q["curate_split_holdout"].fn(spark, sf_dir)
    p = plan_of(df)
    # pruned scan: only the 3 referenced columns of documents' 5
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m and sorted(c.split(":")[0] for c in m.group(1).split(",")) == [
        "doc_id", "source", "text",
    ], p
    assert p.count("Exchange hashpartitioning") == 1, p
    assert re.search(r"partial_count", p), p


def test_mad_outliers_windows_over_compressed_distribution(spark, sf_dir):
    """anomaly_mad_outliers' median/MAD windows must run over the distinct
    (event_type, cents) aggregate — never the raw events rows — and the
    bounded threshold table must ride back on a broadcast join."""
    df = _Q["anomaly_mad_outliers"].fn(spark, sf_dir)
    p = plan_of(df)
    last_window = p.rfind("Window")
    assert last_window != -1, p
    assert re.search(
        r"HashAggregate\(keys=\[event_type#\d+, cents#\d+L\]", p[last_window:]
    ), f"window input is not the compressed (event_type, cents) distribution:\n{p}"
    assert "BroadcastHashJoin" in p, p


def test_ks_windows_over_compressed_value_distribution(spark, sf_dir):
    """dist_ks_two_sample's unpartitioned CDF windows are safe only because
    their input is the compressed per-cents count table (bounded by the
    value domain); pin the compression below the last Window."""
    df = _Q["dist_ks_two_sample"].fn(spark, sf_dir)
    p = plan_of(df)
    last_window = p.rfind("Window")
    assert last_window != -1, p
    assert re.search(
        r"HashAggregate\(keys=\[cents#\d+L\]", p[last_window:]
    ), f"window input is not the compressed cents distribution:\n{p}"


def test_bm25_filters_terms_before_tf_shuffle(spark, sf_dir):
    """bm25_rank_documents must drop non-query tokens BEFORE the (doc,
    token) aggregate, so the tf shuffle carries only matching postings —
    at corpus scale the unfiltered token stream is ~1000× the postings."""
    df = _Q["bm25_rank_documents"].fn(spark, sf_dir)
    p = plan_of(df)
    first_agg = p.find("HashAggregate")
    m = re.search(r"token#\d+ IN \(", p)
    assert m, f"term membership filter missing from plan:\n{p}"
    # the filter sits below (later in the string than) every aggregate
    assert m.start() > first_agg, (
        f"token filter did not reach below the tf aggregate:\n{p}"
    )
    assert "CartesianProduct" not in p, p


def test_pagerank_gathers_with_partial_aggregation(spark, sf_dir):
    """Each PageRank iteration's mass gather must map-side combine
    (partial_sum before the exchange) and the 1-row node-count side must
    ride broadcast — no CartesianProduct anywhere in the unrolled plan."""
    df = _Q["algo_pagerank"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p, p
    assert "partial_sum" in p, f"no map-side combine in the mass gather:\n{p}"
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p


def test_scd2_plans_one_window_pass_and_pushes_type_filter(spark, sf_dir):
    """row_number and lead share one window spec, so the plan must contain
    exactly ONE Window node (one sort pass, no second exchange), and the
    event_type predicate must reach the parquet scan."""
    df = _Q["dim_scd2_intervals"].fn(spark, sf_dir)
    p = plan_of(df)
    assert len(re.findall(r"\bWindow \[", p)) == 1, p
    pf = formatted_plan(df)
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(event_type,purchase\)", pf), pf


def test_power_iteration_broadcasts_direction_no_cartesian(spark, sf_dir):
    """The d-row direction vector and 1-row count must ride broadcasts;
    the matvec gathers must map-side combine; no CartesianProduct."""
    df = _Q["embed_power_iteration"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p, p
    assert "partial_sum" in p, p
    assert "BroadcastHashJoin" in p, p


def test_dq_audit_prunes_columns_and_single_lineitem_pass(spark, sf_dir):
    """The lineitem expectation must scan only l_quantity (column pruning)
    and orders must not be scanned more than twice (the one-pass
    conditional aggregate + the pruned o_custkey side of the anti-join)."""
    df = _Q["dq_expectations_audit"].fn(spark, sf_dir)
    p = formatted_plan(df)
    m = re.search(r"ReadSchema: struct<l_quantity:[^>]*>", p)
    assert m, f"lineitem scan not pruned to l_quantity:\n{p}"
    lineitem_scans = len(re.findall(r"FileScan parquet.*lineitem\.parquet", p))
    assert lineitem_scans <= 1, f"lineitem scanned {lineitem_scans} times:\n{p}"
    orders_scans = len(re.findall(r"FileScan parquet.*orders\.parquet", p))
    assert orders_scans <= 2, f"orders scanned {orders_scans} times:\n{p}"


def test_kmeans_broadcasts_centroids_with_partial_agg(spark, sf_dir):
    """Each Lloyd iteration must join the K×64-row centroid table in
    broadcast against the scope-persisted points (never shuffle the
    points onto centroid keys), with map-side partial aggregation in the
    distance and update gathers; no CartesianProduct."""
    df = _Q["cluster_kmeans_fixed_point"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "partial_sum" in p, p


def test_dsir_one_dict_pass_broadcast_prior_no_cartesian(spark, sf_dir):
    """curate_dsir_select's bigram dictionary is ONE persisted
    conditional-agg pass reused by both the lambda table and the prior
    (InMemoryTableScan), the 1-row prior rides a broadcast, and the only
    nested-loop join in the plan is that broadcast cross join."""
    df = _Q["curate_dsir_select"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastNestedLoopJoin") <= 1, p
    # both dictionary consumers (lambda table + prior) read the cache
    assert p.count("InMemoryTableScan") == 2, p
    # textual scan count: 1 live score-side scan + the cached dictionary
    # subtree printed inside each InMemoryTableScan (not re-executed)
    doc_scans = len(re.findall(r"FileScan parquet.*documents\.parquet", p))
    assert doc_scans <= 1 + p.count("InMemoryTableScan"), (
        f"documents scanned {doc_scans} times:\n{p}"
    )


def test_quality_classifier_shuffle_free_pruned_scan(spark, sf_dir):
    """curate_quality_classifier must be one pruned corpus scan: no
    exchange, no join, no generate/explode — the margin folds per row
    inside codegen."""
    df = _Q["curate_quality_classifier"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "Exchange" not in p, p
    assert "Join" not in p and "Generate" not in p, p
    m = re.search(r"ReadSchema: struct<([^>]*)>", formatted_plan(df))
    assert m and sorted(c.split(":")[0] for c in m.group(1).split(",")) == [
        "doc_id", "text",
    ], m.group(1) if m else "no ReadSchema"


def test_hard_negatives_broadcasts_query_block_not_corpus(spark, sf_dir):
    """embed_hard_negatives must plan exactly like embed_cosine_topk: the
    bounded query block broadcasts, the corpus never repartitions, and a
    Partial WindowGroupLimit reduces rows ahead of the single rank
    exchange."""
    df = _Q["embed_hard_negatives"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "BroadcastExchange" in p, p
    assert p.count("Exchange hashpartitioning") == 1, p
    ex = p.find("Exchange hashpartitioning")
    assert "WindowGroupLimit" in p[ex:] and "Partial" in p[ex:], p


def test_label_propagation_argmax_is_aggregate_not_window(spark, sf_dir):
    """Each LPA round's deterministic argmax must plan as a partial-agg'd
    max_by aggregation — no Window operator (a rank-window argmax re-sorts
    every round; measured 11% slower and degree-scaling at 100 TB).
    Since r13 the registered query serves the MATERIALIZED staging table
    (catalog.stage_tables), so the round plan is asserted on the BUILDER
    — the code the training actually executes — and the registered query
    is asserted to be a plain staging-table scan."""
    from projet_pipeline_bigdata_org_spark.operators.grouped import (
        _lpa_labels_build,
    )

    _edges, labels = _lpa_labels_build(spark, sf_dir)
    p = plan_of(labels)
    assert "Window" not in p, p
    assert "max_by" in p or "maxby" in p.lower(), p
    assert "partial_max_by" in p or "partial" in p.lower(), p
    served = plan_of(_Q["algo_label_propagation"].fn(spark, sf_dir))
    assert "FileScan parquet" in served and "lpa_labels" in served, served


def test_binary_sign_topk_broadcasts_query_signatures_not_corpus(spark, sf_dir):
    """embed_binary_sign_topk must follow the cosine-topk plan family: the
    bounded query signature block broadcasts, the corpus never
    repartitions, and a Partial WindowGroupLimit bounds rows ahead of the
    single rank exchange."""
    df = _Q["embed_binary_sign_topk"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "BroadcastExchange" in p, p
    assert p.count("Exchange hashpartitioning") == 1, p
    ex = p.find("Exchange hashpartitioning")
    assert "WindowGroupLimit" in p[ex:] and "Partial" in p[ex:], p


def test_passage_prune_shuffles_hash_pairs_never_passage_strings(spark, no_auto_broadcast):
    """dedup_passage_prune's scale claim: every exchange in the plan carries
    the 16-byte (h1, h2) hash pair or a doc-keyed aggregate — the ~100-byte
    passage STRING is projected away before any shuffle (it exists only
    inside the per-partition posexplode/hash pipeline)."""
    df = _Q["dedup_passage_prune"].fn(spark, "/root/testdata/sf0.001")
    p = plan_of(df)
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
    assert exchanges, p
    assert all("passage" not in ex for ex in exchanges), exchanges
    assert any("h1" in ex and "h2" in ex for ex in exchanges), exchanges


def test_cascade_topk_corpus_never_exchanges_rerank_broadcasts_shortlist(spark, sf_dir):
    """embed_cascade_topk's scale claims: stage 1 follows the sign-topk
    plan family (broadcast query signatures, partial WindowGroupLimit
    under the rank exchange), stage 2 gathers re-rank vectors by
    BROADCASTING the shortlist against the corpus scan — so the only
    hash exchanges in the whole plan are the two per-query rank windows
    over already-reduced rows, both keyed by q_id; the corpus itself
    never repartitions."""
    df = _Q["embed_cascade_topk"].fn(spark, sf_dir)
    p = plan_of(df)
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
    assert len(exchanges) == 2, p
    assert all(ex.startswith("q_id") for ex in exchanges), exchanges
    assert "WindowGroupLimit" in p and "Partial" in p, p
    assert p.count("BroadcastExchange") >= 2, p  # q-signatures, shortlist, q-vectors
    assert "SortMergeJoin" not in p, p


def test_embed_decontaminate_broadcasts_bench_corpus_streams(spark, sf_dir):
    """embed_decontaminate's scale claim: the benchmark block broadcasts
    (with signatures+norms+vectors), the corpus streams through ONE
    left-outer non-equi Hamming join without repartitioning (unmatched
    rows count to 0 — no second corpus scan), and the only hash exchange
    is the partial-agg'd groupBy(vec_id) of skinny (id, count) rows."""
    df = _Q["embed_decontaminate"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "BroadcastNestedLoopJoin BuildRight, LeftOuter" in p, p
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
    assert len(exchanges) == 1 and exchanges[0].startswith("vec_id"), exchanges
    assert "SortMergeJoin" not in p, p
    assert "partial_count" in p, p  # map-side combine ahead of the exchange


def test_triangle_count_intersects_adjacency_never_shuffles_wedges(spark, sf_dir):
    """graph_triangle_count's r9 compact-forward claim: triangles close via
    per-edge array_intersect over adjacency lists — the wedge set (34x the
    edge count at sf0.1, up to E^1.5) never materializes, so no exchange
    carries a (y, z) wedge key the way the r5-r8 wedge-join form did."""
    df = _Q["graph_triangle_count"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "array_intersect" in p, p
    for ex in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p):
        assert not ("y#" in ex and "z#" in ex), ex


def test_bloom_incremental_probes_broadcast_shard_never_shuffles_to_probe(
    spark, sf_dir, no_auto_broadcast
):
    """dedup_bloom_incremental's four membership probes must plan as
    BROADCAST joins even when nothing auto-broadcasts (the filter rides an
    explicit hint): the incoming shard learns candidate-or-novel with zero
    shuffle, and only the candidate slice reaches the shuffling confirm
    join against history."""
    df = _Q["dedup_bloom_incremental"].fn(spark, sf_dir)
    p = formatted_plan(df)
    assert p.count("BroadcastHashJoin") >= 4, p


def test_pq_cascade_lut_and_codebook_broadcast(spark, sf_dir, no_auto_broadcast):
    """compress_pq_topk's bounded sides (codebook, per-query ADC lookup
    tables, re-rank query block) must ride explicit broadcast hints even
    when nothing auto-broadcasts — the corpus-sized code/point tables
    never serve as a broadcast side and only meet bounded tables."""
    df = _Q["compress_pq_topk"].fn(spark, sf_dir)
    p = formatted_plan(df)
    assert p.count("BroadcastHashJoin") >= 3, p


def test_kmv_rank_window_gets_partial_group_limit(spark, sf_dir):
    """agg_kmv_distinct's bottom-K rank must be rewritten by Spark's
    WindowGroupLimit into per-partition bottom-K BEFORE the scope
    exchange — the property that makes the sketch's sort see <= K rows
    per input partition instead of the whole distinct-hash stream."""
    df = _Q["agg_kmv_distinct"].fn(spark, sf_dir)
    p = plan_of(df)
    # the established sibling pattern (cosine-topk family): a
    # Partial-mode WindowGroupLimit node must exist — the earlier
    # disjunction accepted 'partial_count' from the downstream aggregate
    # and sliced p[:-1] when the find missed (review-caught vacuity)
    m = re.search(r"WindowGroupLimit[^\n]*Partial", p)
    assert m, f"no Partial WindowGroupLimit in plan:\n{p}"


def test_kcore_rounds_reuse_persisted_edges_without_reexchange(spark, sf_dir):
    """algo_kcore_peel's edge list must exchange ONCE (inside the persisted
    relation's materialization): the final plan shows only
    InMemoryTableScan reuse of the dst-partitioned edges — zero
    hashpartitioning exchanges — because the initial degree groupBy rides
    the persisted partitioning and each round's frontier joins broadcast
    or co-partition. At 100 TB the frontier joins become exchanges
    proportional to dying-node edges, never |E| per round. (formatted
    explain: executedPlan().toString() would re-print the cached
    relation's BUILD plan — with its one-time exchange — inside every
    scan.)"""
    df = _Q["algo_kcore_peel"].fn(spark, sf_dir)
    p = formatted_plan(df)
    assert "InMemoryTableScan" in p, p
    assert p.count("Exchange hashpartitioning") == 0, p


def test_mrl_cascade_broadcasts_and_corpus_never_exchanges(spark, sf_dir):
    """compress_mrl_topk must follow the cascade plan family: query
    block and shortlist broadcast, a partial WindowGroupLimit bounds
    rows ahead of the single rank exchange, the corpus never
    repartitions."""
    df = _Q["compress_mrl_topk"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "BroadcastExchange" in p, p
    assert "WindowGroupLimit" in p and "Partial" in p, p


def test_bfs_rounds_reuse_persisted_edges_without_reexchange(spark, sf_dir):
    """algo_bfs_distance's edge list must exchange ONCE (inside the
    persisted relation): the formatted plan shows only InMemoryTableScan
    reuse — the same frontier discipline pin as the k-core peel."""
    df = _Q["algo_bfs_distance"].fn(spark, sf_dir)
    p = formatted_plan(df)
    assert "InMemoryTableScan" in p, p
    assert p.count("Exchange hashpartitioning") == 0, p


def test_hilbert_layout_single_exchange_partial_agg_below(spark, sf_dir):
    """arrange_hilbert_layout's 16 chained rotation projections must run
    shuffle-free under a partial aggregate: exactly ONE exchange in the
    plan, with a HashAggregate on each side (two-phase rollup), and no
    join anywhere — the whole walk is straight-line per-row code."""
    df = _Q["arrange_hilbert_layout"].fn(spark, sf_dir)
    p = formatted_plan(df)
    # formatted output prints each node twice (tree line + detail header):
    # count unique exchange NODES, not string hits
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    assert len(re.findall(r"\(\d+\) HashAggregate", p)) == 2, p
    assert "Join" not in p, p


def test_cdc_snapshot_diff_is_one_pass_no_join(spark, sf_dir):
    """cdc_snapshot_diff's load-bearing claim: the generic two-snapshot
    FULL OUTER JOIN collapses to ONE conditional aggregation because both
    snapshots window the same source — the physical plan must contain no
    join at all and exactly one scan of orders (the tree numbers it once;
    the formatted detail section repeats it once)."""
    df = _Q["cdc_snapshot_diff"].fn(spark, sf_dir)
    p = formatted_plan(df)
    assert "Join" not in p, p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p


def test_common_neighbors_all_joins_broadcast(spark, sf_dir, no_auto_broadcast):
    """algo_common_neighbors' bounded-wedge claim: the source set, the
    source-incident edge probe, and the existing-edge exclusion all ride
    explicit broadcasts (even when nothing auto-broadcasts), and the
    both-directions edge list plus the source-edge set are persisted —
    wedge expansion costs edge-list SCANS of one materialization, never a
    per-branch re-derivation of the pair join."""
    df = _Q["algo_common_neighbors"].fn(spark, sf_dir)
    p = formatted_plan(df)
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "InMemoryTableScan" in p, p
    # the bounded rank is WindowGroupLimit-eligible and the source cut is
    # a TakeOrdered, not a global sort
    assert "WindowGroupLimit" in p, p
    assert "TakeOrderedAndProject" in p, p


def test_ivf_certified_broadcast_codebook_window_limits(spark, sf_dir):
    """sim_ann_ivf_certified's index build must broadcast the bounded
    codebook against the per-dim point scan (never repartition the
    corpus for assignment), bound its argmin/probe/top-k ranks with
    WindowGroupLimit, and read the shared point/cell caches."""
    df = _Q["sim_ann_ivf_certified"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "WindowGroupLimit" in p, p
    assert "InMemoryTableScan" in p, p


def test_semdedup_certified_pairs_stay_in_cells(spark, sf_dir):
    """embed_semdedup_certified's quadratic work must be confined to
    (cell, sub) equi-joins — no CartesianProduct anywhere — with the
    shared index caches reused and the norm tables broadcast into the
    decision join."""
    df = _Q["embed_semdedup_certified"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "InMemoryTableScan" in p, p


def test_modularity_reads_cached_labels_no_cartesian(spark, sf_dir):
    """algo_modularity_score must read the LPA edge list AND the final
    labeling from the MATERIALIZED staging tables (r13: parquet scans —
    unmaterialized labels would recompute the whole LPA_ITERS-round
    subtree once per reference: both intra-join endpoints plus the
    degree rollup), and the only nested-loop join is the broadcast of
    the 1-row edge total."""
    df = _Q["algo_modularity_score"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p, p
    # edges staging table + labels staging table, each read multiple
    # times as plain column-pruned scans — no LPA operator in the plan
    assert p.count("lpa_labels") >= 4, p
    assert "max_by" not in p, p  # the training never re-executes here
    assert p.count("BroadcastNestedLoopJoin") <= 1, p


def test_rank_fusion_broadcast_seeds_window_group_limit(spark, sf_dir):
    """rank_fusion_rrf's dense arm must broadcast the |queries| seed
    signatures against the signature scan (never repartition the
    embedded corpus) with WindowGroupLimit-bounded ranks, and no
    CartesianProduct anywhere (the only nested-loop joins are bounded
    broadcasts: corpus stats + seed signatures)."""
    df = _Q["rank_fusion_rrf"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p, p
    assert "WindowGroupLimit" in p, p
    assert "BroadcastHashJoin" in p, p


def test_bm25_query_topk_one_token_stream_materialization(spark, sf_dir):
    """bm25_query_topk's exploded token stream is persisted ONCE and read
    by both the query-term derivation and the tf join (InMemoryTableScan
    x2 alongside the doc-length cache); live documents.parquet FileScans
    beyond the cached subtrees would mean the corpus re-tokenizes per
    consumer (VERDICT r11 #4). The query-term table still rides an
    explicit broadcast into the postings join."""
    df = _Q["bm25_query_topk"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p
    # token-stream cache read by qterms + tf, doc-length cache by dl/stats
    assert p.count("InMemoryTableScan") >= 3, p
    doc_scans = len(re.findall(r"FileScan parquet.*documents\.parquet", p))
    assert doc_scans <= p.count("InMemoryTableScan"), (
        f"live documents scan outside the caches ({doc_scans}):\n{p}"
    )


def test_heavy_hitters_probes_broadcast_sketch_never_shuffles_corpus(
    spark, sf_dir, no_auto_broadcast
):
    """sketch_heavy_hitters' four counter-slice probes must plan as
    BROADCAST hash joins even when nothing auto-broadcasts (each slice
    rides an explicit hint), the 1-row total a broadcast nested loop, and
    no CartesianProduct: the corpus-sized token stream reaches its only
    real exchange (the exact confirm groupBy) already admission-filtered
    map-side."""
    df = _Q["sketch_heavy_hitters"].fn(spark, sf_dir)
    p = formatted_plan(df)
    assert p.count("BroadcastHashJoin") >= 4, p
    assert "CartesianProduct" not in p, p


def test_groups_frame_windows_share_one_exchange(spark, sf_dir):
    """window_groups_frame's two Window nodes (dense_rank group numbering
    + the RANGE frame over it) partition on the same key, so the plan
    must carry exactly ONE hashpartitioning exchange — the second sort is
    partition-local, never a reshuffle."""
    df = _Q["window_groups_frame"].fn(spark, sf_dir)
    p = plan_of(df)
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1, p


def test_exclude_frame_windows_share_one_exchange(spark, sf_dir):
    """window_exclude_frame's frame sum and peer-group sum partition on
    compatible keys ((type) and (type, di)), so the plan must carry
    exactly ONE hashpartitioning exchange — the peer window rides the
    same distribution."""
    df = _Q["window_exclude_frame"].fn(spark, sf_dir)
    p = plan_of(df)
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1, p


def test_skew_audit_heavy_keys_use_window_group_limit(spark, sf_dir):
    """The heavy-key rank must never global-sort the key table: Spark
    rewrites the rank<=K filter to per-partition heaps — either
    WindowGroupLimit or (for the unpartitioned global rank) a
    TakeOrderedAndProject limit under the window. After the one per-key
    rollup every aggregate is partial-combined (two-phase)."""
    df = _Q["agg_shuffle_skew_audit"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "WindowGroupLimit" in p or "TakeOrderedAndProject" in p, p
    assert p.count("HashAggregate") >= 2, p


def test_bm25_query_batch_broadcasts_terms_and_stats(spark, sf_dir, no_auto_broadcast):
    """Term-at-a-time retrieval: the query-term table and corpus stats
    ride explicit broadcasts (the corpus token stream must never be the
    build side), and the per-query top-k is WindowGroupLimit-rewritten."""
    df = _Q["bm25_query_topk"].fn(spark, sf_dir)
    p = plan_of(df)
    assert p.count("BroadcastExchange") >= 2, p
    assert "WindowGroupLimit" in p, p


def test_delta_postings_single_token_exchange(spark, sf_dir):
    """The inverted-index build shuffles ONCE on the token key: document
    frequency and the gap LAG share that partitioning (no second
    corpus-sized exchange between the window and the final aggregate)."""
    df = _Q["compress_delta_postings"].fn(spark, sf_dir)
    p = plan_of(df)
    # exchanges: one for distinct, one hashpartitioning(tok) for the
    # window+agg chain, plus the single-partition gather at most
    assert p.count("hashpartitioning(tok") <= 2, p
    assert "Window" in p, p


def test_rle_audit_windows_partition_by_bucket(spark, sf_dir):
    """The per-row LAG windows must be partitioned by the bucket key —
    a global unpartitioned window over lineitem rows would be the exact
    single-partition funnel the operator exists to avoid. (The bounded
    boundary-stitch window over the bucket TABLE is the only
    unpartitioned one.)"""
    df = _Q["arrange_rle_audit"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "partitionBy=[_bkt" in p.replace(" ", "") or "_bkt" in p, p
    # the row-level windows carry the bucket in their partition spec
    import re as _re

    row_windows = [
        w for w in _re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", p)
    ]
    assert any("_bkt" in w for w in row_windows), p


def test_int4_groupwise_is_shuffle_free_projection(spark, sf_dir):
    """Group-wise quantization is a pure map stage: zero exchanges in
    the plan — it rides the scan partitioning at any scale."""
    df = _Q["compress_int4_groupwise"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "Exchange" not in p, p


def test_cusum_windows_over_bounded_daily_table(spark, sf_dir):
    """Both chart windows run AFTER the daily rollup's aggregate — the
    window input is the bounded (type, day) table, never raw events —
    and the rollup itself is partial-combined before its exchange."""
    df = _Q["anomaly_cusum_gate"].fn(spark, sf_dir)
    p = plan_of(df)
    first_window = p.find("Window")
    assert first_window != -1
    assert "HashAggregate" in p[first_window:], p
    assert p.count("HashAggregate") >= 2, p


def test_chunk_windows_is_shuffle_free_projection(spark, sf_dir):
    """Chunking is a pure map stage at any corpus size: one pruned
    2-column parquet scan, the explode, zero exchanges — it rides the
    scan partitioning, which is what lets the 100 TB embedding-prep pass
    scale linearly with input splits."""
    df = _Q["text_chunk_windows"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "Exchange" not in p, p
    fp = formatted_plan(df)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in fp, fp


def test_incremental_boilerplate_joins_slim_hash_pairs_only(spark, sf_dir):
    """The line-membership join must carry ONLY the 16-byte (h1, h2)
    hash pair — the normalized line string must be projected away before
    any exchange (strings in the shuffle would multiply the admission
    join's network bytes by the line length)."""
    df = _Q["dedup_incremental_boilerplate"].fn(spark, sf_dir)
    p = plan_of(df)
    joins = re.findall(r"SortMergeJoin [^\n]*|ShuffledHashJoin [^\n]*", p)
    assert joins, p
    for j in joins:
        assert "line#" not in j, j
    # the membership join keys on both hash halves
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin) \[h1#\d+L, h2#\d+L\]", p), p


def test_bbpe_learn_argmax_rides_takeordered(spark, sf_dir):
    """Each byte-BPE round's 1-row argmax must plan as TakeOrdered (a
    per-partition top-1 + driver merge of CANDIDATES, not a global sort
    of the pair-count table) — same shape as the char trainer. Pinned on
    the TRAINING plan itself (_bbpe_vocab_build): the registered query
    serves the stage-table parquet, so the training shape is only
    visible pre-materialization."""
    from projet_pipeline_bigdata_org_spark.operators.textops import (
        _bbpe_vocab_build,
    )

    _vocab, summaries = _bbpe_vocab_build(spark, sf_dir)
    p = plan_of(summaries[0])
    assert "TakeOrderedAndProject" in p, p


def test_export_manifest_windows_per_shard_not_single_partition(spark, sf_dir):
    """The manifest's first/last-key windows must be partitioned by the
    shard key — a global unpartitioned window over the survivor corpus
    would serialize the export accounting at scale."""
    df = _Q["curate_export_manifest"].fn(spark, sf_dir)
    p = plan_of(df)
    windows = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", p)
    assert windows, p
    # no window anywhere in the composition is unpartitioned (global),
    # and the manifest's own first/last-key windows partition by shard
    assert all(w.strip() for w in windows), windows
    assert sum("shard" in w for w in windows) >= 2, windows


def test_funnel_ladder_no_unbroadcast_cartesian(spark, sf_dir):
    """The ladder composes nine operator plans plus two 1-row totals;
    every nested-loop site must be a broadcast of a 1-row/bounded side —
    no CartesianProduct may appear at any composition depth."""
    df = _Q["curate_funnel_ladder"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p, p


def test_duplicate_spans_single_dup_exchange_then_doc_id_reuse(spark, sf_dir):
    """The duplicated-seed census is ONE window exchange over the
    16-byte hash pair (no gram strings in any exchange — groupBy +
    join-back would shuffle the position stream twice), and the island
    window, the (doc_id, island) aggregate, and the token-slice join
    must all reuse ONE doc_id exchange."""
    df = _Q["dedup_duplicate_spans"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "gram#" not in "".join(re.findall(r"Exchange [^\n]*", p)), p
    # exactly one hash-pair exchange + doc_id-cluster exchanges; the
    # doc_id-side plan must not re-exchange between window/agg/join
    exchanges = re.findall(r"Exchange hashpartitioning\(([^,]+)", p)
    assert sum(e.startswith("h1#") for e in exchanges) == 1, exchanges
    # 3 exchanges total: hash pair census + one doc_id exchange shared by
    # island window → span aggregate → join left, + the toks join side
    assert len(exchanges) == 3, exchanges


def test_jaccard_prefix_candidate_join_on_prefix_filtered_sides(spark, sf_dir):
    """Both sides of the candidate self-join must be PREFIX-filtered
    (the rk <= n - ceil(t*n) + 1 predicate below the join) — joining
    full postings would reintroduce the hot-shingle quadratic bucket
    the prefix scheme exists to avoid — and no join anywhere may
    degrade to a cartesian/nested-loop."""
    df = _Q["dedup_jaccard_prefix"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    # the rank filter appears on two separate inputs (self-join sides)
    assert len(re.findall(r"rk#\d+(?: as bigint\))? <= ", p)) >= 2, p


def test_q21_decorrelates_to_semi_and_anti_joins(spark, sf_dir, no_auto_broadcast):
    """Q21's EXISTS / NOT EXISTS must decorrelate to LeftSemi / LeftAnti
    joins on l_orderkey (with the cross-outer-table lateness predicate
    folded into the anti join's condition) — never a per-row subquery
    re-scan or a cartesian — and with auto-broadcast off (the 100 TB
    posture) they plan as key-shuffled joins."""
    df = _Q["sql_surface_q21"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "LeftSemi" in p and "LeftAnti" in p, p
    assert "CartesianProduct" not in p, p
    anti = p[p.find("LeftAnti") - 200 : p.find("LeftAnti") + 200]
    assert "l_shipdate" in anti, anti


def test_q22_scalar_broadcasts_and_anti_join_filter_pushed(spark, sf_dir):
    """Q22's uncorrelated scalar pair plans as 1-row aggregates (no
    re-execution per row) and the NOT EXISTS becomes a LeftAnti whose
    orders side is pre-filtered by the pushed date predicate."""
    df = _Q["sql_surface_q22"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "LeftAnti" in p, p
    assert "CartesianProduct" not in p, p
    fp = formatted_plan(df)
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate", fp), fp


def test_wordpiece_tokenize_broadcasts_wptok_no_corpus_selfjoin(spark, sf_dir):
    """The WordPiece applier's corpus-sized work is ONE (doc, word)
    map-side-combined count joined BROADCAST against the per-word DP
    result (a parquet stage-table scan after training) — documents must
    never shuffle against each other and no nested-loop join may appear
    in the registered query's plan."""
    df = _Q["text_wordpiece_tokenize"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p
    # partial agg below the (doc_id, word) exchange
    first_exchange = p.find("Exchange")
    assert "HashAggregate" in p[:first_exchange] or p.count("HashAggregate") >= 2, p


def test_epoch_permutation_is_shuffle_free(spark, sf_dir):
    """The epoch shuffle must plan as a pure projection — zero
    exchanges, no sort, no window: the whole point over ORDER BY
    rand() is that an epoch order costs a map stage, not a corpus
    sort."""
    df = _Q["curate_epoch_permutation"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "Exchange" not in p, p
    assert "Sort" not in p, p
    assert "Window" not in p, p


def test_jl_projection_is_shuffle_free(spark, sf_dir):
    """The JL pass must plan as one projection per row — no exchange,
    no corpus explode-to-triples (the k signed sums are higher-order
    aggregates over the array column): at 100 TB this stage is
    scan-bound by design."""
    df = _Q["embed_jl_project"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "Exchange" not in p, p


def test_virality_linear_broadcasts_and_bounded_shuffle(
    spark, sf_dir, no_auto_broadcast
):
    """ml_virality_linear_certified: the lang-rank table and the 1-row
    coefficient frame ride EXPLICIT broadcast hints (no corpus-keyed
    shuffle join anywhere), and the only exchanges are the two bounded
    aggregations (|langs| rows, 1 stats row) — the scoring pass itself
    is a per-partition projection."""
    df = _Q["ml_virality_linear_certified"].fn(spark, sf_dir)
    p = formatted_plan(df)
    assert p.count("BroadcastHashJoin") >= 1, p
    assert "BroadcastNestedLoopJoin" in p, p  # 1-row coefficient frame
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p


def test_ann_ivf_incremental_broadcast_codebook_cached_postings(
    spark, sf_dir
):
    """sim_ann_ivf_incremental: the frozen codebook broadcasts into both
    assignment passes (never a corpus repartition for assignment), the
    ranks are WindowGroupLimit-bounded, the maintained postings/point
    caches are read, and no CartesianProduct appears anywhere."""
    df = _Q["sim_ann_ivf_incremental"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "WindowGroupLimit" in p, p
    assert "InMemoryTableScan" in p, p


def test_c4_rules_zero_exchange_projection(spark, sf_dir):
    """lex_c4_rules is a pure row-local projection (higher-order line
    arithmetic, no explode) — zero Exchange, no join, no aggregate: the
    cheapest stage shape, which is why real pipelines run it first."""
    df = _Q["lex_c4_rules"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "Exchange" not in p, p
    assert "Join" not in p, p
    assert "Aggregate" not in p.replace("PartialAggregate", ""), p


def test_epoch_plan_broadcast_schedule_no_sort(spark, sf_dir, no_auto_broadcast):
    """curate_epoch_plan: the |sources|-row schedule table rides an
    EXPLICIT broadcast into the corpus join, the Feistel projection adds
    no Sort/Window, and the only exchanges are the bounded source
    rollups — never a corpus-keyed shuffle join or a global sort."""
    df = _Q["curate_epoch_plan"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "Sort " not in p.replace("SortAggregate", ""), p


def test_gopher_repetition_zero_exchange(spark, sf_dir):
    """lex_gopher_repetition is entirely array-local higher-order
    arithmetic — no join, no explode-driven aggregate, and no DATA-KEYED
    exchange: one codegen'd projection over the scan (the lex_c4_rules
    shape). The only exchange permitted is the r17 input spread — a
    round-robin repartition of the single-row-group local scan (guide
    §2.5), which spread_input makes a no-op on multi-split production
    inputs, so the at-scale plan remains zero-exchange."""
    df = _Q["lex_gopher_repetition"].fn(spark, sf_dir)
    p = plan_of(df)
    import re as _re

    keyed = [
        ln for ln in p.splitlines()
        if "Exchange" in ln and "RoundRobinPartitioning" not in ln
    ]
    assert not keyed, p
    assert len(_re.findall(r"Exchange RoundRobinPartitioning", p)) <= 1, p
    assert "Join" not in p, p
    assert "Generate" not in p, p  # no explode


def test_ann_ivfpq_incremental_broadcast_luts_cached_stores(spark, sf_dir):
    """sim_ann_ivfpq_incremental: the query LUT and both frozen
    codebooks broadcast, ranks are WindowGroupLimit-bounded, the
    maintained postings/code caches are read, no CartesianProduct."""
    df = _Q["sim_ann_ivfpq_incremental"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "WindowGroupLimit" in p, p
    assert "InMemoryTableScan" in p, p


def test_gopher_repetition_exploded_bounded_shuffle(spark, sf_dir):
    """lex_gopher_repetition_exploded (the long-doc production form):
    explode-driven hash aggregates with map-side partial aggregation,
    every exchange keyed by doc_id — no cartesian product, no row UDF,
    and a bounded exchange count (the dedup_repeated_passages shape,
    not a per-doc quadratic)."""
    df = _Q["lex_gopher_repetition_exploded"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p, p
    assert "Generate" in p, p  # the explode IS the point here
    # bound the DATA-KEYED exchanges; the r17 input spread (one
    # RoundRobinPartitioning of the single-split local scan, a no-op on
    # multi-split production inputs) rides outside the bound
    keyed = [
        ln for ln in p.splitlines()
        if "Exchange " in ln and "RoundRobinPartitioning" not in ln
    ]
    assert len(keyed) <= 14, p
    assert "partial_count" in p or "partial_" in p, p


@pytest.mark.parametrize(
    "name,expect",
    [
        # decorrelated shapes: EXISTS/IN/scalar-agg → semi joins, never a
        # per-row re-scan or cartesian; top-k via TakeOrderedAndProject
        ("sql_surface_q2", {"TakeOrderedAndProject": 1, "CartesianProduct": 0}),
        ("sql_surface_q4", {"LeftSemi": 1, "CartesianProduct": 0}),
        ("sql_surface_q15", {"CartesianProduct": 0}),
        ("sql_surface_q20", {"LeftSemi": 3, "CartesianProduct": 0}),
        # NOT IN → null-aware LeftAnti
        ("sql_surface_q16", {"LeftAnti": 1, "CartesianProduct": 0}),
        # join-order shapes: the explicit nation/region broadcasts survive
        # the cluster posture (auto-broadcast off)
        ("sql_surface_q5", {"BroadcastHashJoin": 1, "CartesianProduct": 0}),
        ("sql_surface_q7", {"BroadcastHashJoin": 2, "CartesianProduct": 0}),
        ("sql_surface_q8", {"BroadcastHashJoin": 2, "CartesianProduct": 0}),
        ("sql_surface_q9", {"BroadcastHashJoin": 1, "CartesianProduct": 0}),
        ("sql_surface_q10", {"BroadcastHashJoin": 1, "TakeOrderedAndProject": 1}),
        # the global scalar is a 1-row broadcast nested loop, not a shuffle
        ("sql_surface_q11", {"BroadcastNestedLoopJoin": 1, "CartesianProduct": 0}),
    ],
)
def test_tpch_suite_cluster_posture(spark, sf_dir, no_auto_broadcast, name, expect):
    """TPC-H completion shapes planned as a large cluster would (auto
    broadcast off): decorrelation produced semi/anti joins, explicit
    dimension broadcasts survived, no cartesian products, top-k never a
    global sort materialization."""
    df = _Q[name].fn(spark, sf_dir)
    p = plan_of(df)
    for pat, n in expect.items():
        assert p.count(pat) == n, f"{name}: {pat} x{p.count(pat)} != {n}\n{p}"


def test_q19_factored_scan_pushdown(spark, sf_dir):
    """sql_surface_q19: the common conjunct of the three OR'd groups
    (l_returnflag = 'N') is factored below the join into the lineitem
    scan's data filters — the disjunctive-pushdown property Q19 exists
    to test."""
    df = _Q["sql_surface_q19"].fn(spark, sf_dir)
    p = formatted_plan(df)
    scan = [b for b in p.split("\n\n") if "lineitem" in b and "Scan parquet" in b]
    assert scan and any("EqualTo(l_returnflag,N)" in b for b in scan), p
    # the OR'd quantity envelope also reaches the scan
    assert any("l_quantity" in b and "PushedFilters" in b for b in scan), p


def test_q6_full_scan_pushdown_no_shuffle(spark, sf_dir):
    """sql_surface_q6: every predicate reaches the parquet scan and the
    only exchange is the 1-row final aggregate — the canonical pushdown
    probe of the certified TPC-H 22."""
    df = _Q["sql_surface_q6"].fn(spark, sf_dir)
    p = formatted_plan(df)
    scan = [b for b in p.split("\n\n") if "lineitem" in b and "Scan parquet" in b]
    assert scan, p
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(col in b and "PushedFilters" in b for b in scan), (col, p)
    phys = plan_of(df)
    assert "Join" not in phys, phys
    assert phys.count("Exchange") == 1, phys


def test_pipeline_e2e_reads_staged_silver_no_retrain(spark, sf_dir):
    """curate_pipeline_e2e (VERDICT r16 #5): the capstone's physical plan
    reads the funnel's staged (doc_id, stage_ord) PARQUET silver table —
    it must never re-run the nine-stage ladder inline. The ladder's
    exact-dup stage would put sha2/SHA window expressions in the plan;
    their absence plus the stage-cache scan path pins build-once
    economics."""
    from projet_pipeline_bigdata_org_spark.catalog import STAGE_CACHE_ROOT
    from projet_pipeline_bigdata_org_spark.operators.curation import (
        funnel_ladder_staged,
    )

    funnel_ladder_staged(spark, sf_dir)  # stage built (as in production)
    df = _Q["curate_pipeline_e2e"].fn(spark, sf_dir)
    p = plan_of(df)
    # the scan path display truncates the stage subdir; the root suffices
    assert STAGE_CACHE_ROOT in p, p[:4000]
    assert "sha2" not in p.lower(), "ladder recomputed inline:\n" + p[:4000]
