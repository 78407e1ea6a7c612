"""Optimization knobs: scale-safety behaviors that plan dumps can't pin —
the size-derived shuffle-partition rule, the bounded spread_input guard,
the scan-parts cache cap, the scoped-pin release discipline, the DISK_ONLY
storage level of the corpus-sized pins, and the per-query driver overhead
cuts (origin capture off, memoized table schemas).
"""

from __future__ import annotations

import logging
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import StorageLevel

from projet_pipeline_bigdata_org_spark import catalog
from projet_pipeline_bigdata_org_spark.operators import dedup
from projet_pipeline_bigdata_org_spark.session import (
    DATAFRAME_DEBUGGING_CONF,
    DEFAULT_SHUFFLE_PARTITIONS,
    derive_shuffle_partitions,
)


class TestDeriveShufflePartitions:
    def test_small_input_floors_at_twice_cores(self):
        # 1 GB on 32 cores: the size rule says 4 partitions; the floor
        # keeps every core busy
        assert derive_shuffle_partitions(1 << 30, 32) == 64

    def test_size_rule_in_the_100mb_1gb_band(self):
        # 1 TB on 32 cores -> 4096 partitions of 256 MB each (guide §2.2)
        assert derive_shuffle_partitions(1 << 40, 32) == 4096

    def test_100tb_is_capped_not_quadratic(self):
        # 100 TB raw rule = ~400k partitions; the cap bounds the M x R
        # shuffle block count (guide §2.2), AQE coalesces any overshoot
        assert derive_shuffle_partitions(100 * (1 << 40), 512) == 1 << 17

    def test_local_default_unchanged_without_env(self, monkeypatch):
        monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
        monkeypatch.delenv("SPARK_GRAFT_INPUT_BYTES", raising=False)
        from projet_pipeline_bigdata_org_spark.session import _perf_confs

        assert _perf_confs()["spark.sql.shuffle.partitions"] == str(
            DEFAULT_SHUFFLE_PARTITIONS
        )

    def test_input_bytes_env_drives_the_rule(self, monkeypatch):
        monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
        monkeypatch.setenv("SPARK_GRAFT_INPUT_BYTES", str(1 << 40))
        monkeypatch.setenv("SPARK_GRAFT_TOTAL_CORES", "32")
        from projet_pipeline_bigdata_org_spark.session import _perf_confs

        assert _perf_confs()["spark.sql.shuffle.partitions"] == "4096"

    def test_explicit_override_wins(self, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "777")
        monkeypatch.setenv("SPARK_GRAFT_INPUT_BYTES", str(1 << 40))
        from projet_pipeline_bigdata_org_spark.session import _perf_confs

        assert _perf_confs()["spark.sql.shuffle.partitions"] == "777"

    @pytest.mark.parametrize("raw", ["1e12", "100TB", "1_000000000000"])
    def test_malformed_input_bytes_warns(self, monkeypatch, caplog, raw):
        monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
        monkeypatch.setenv("SPARK_GRAFT_INPUT_BYTES", raw)
        from projet_pipeline_bigdata_org_spark.session import _perf_confs

        with caplog.at_level(logging.WARNING, logger="projet_pipeline_bigdata_org_spark.session"):
            parts = _perf_confs()["spark.sql.shuffle.partitions"]
        assert parts == str(DEFAULT_SHUFFLE_PARTITIONS)
        assert f"SPARK_GRAFT_INPUT_BYTES={raw!r}" in caplog.text

    def test_plain_input_bytes_does_not_warn(self, monkeypatch, caplog):
        monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
        monkeypatch.setenv("SPARK_GRAFT_INPUT_BYTES", str(1 << 40))
        from projet_pipeline_bigdata_org_spark.session import _perf_confs

        with caplog.at_level(logging.WARNING, logger="projet_pipeline_bigdata_org_spark.session"):
            _perf_confs()
        assert "SPARK_GRAFT_INPUT_BYTES" not in caplog.text


class TestSpreadInputGuard:
    def test_noop_on_multisplit_scan_below_parallelism(self, spark, sf_dir):
        # a scan with more than SPREAD_MAX_INPUT_SPLITS splits must NOT be
        # round-robin shuffled even when it carries fewer partitions than
        # defaultParallelism (advisor r17: mid-size table on a wide
        # cluster) — simulate by repartitioning to a mid split count first
        df = catalog.load(spark, sf_dir, "orders").repartition(12)
        assert catalog.SPREAD_MAX_INPUT_SPLITS < 12 < 32
        out = catalog.spread_input(df)
        assert out is df  # no exchange added

    def test_spreads_single_split_scan(self, spark, sf_dir):
        df = catalog.load(spark, sf_dir, "orders").coalesce(1)
        out = catalog.spread_input(df)
        assert out is not df
        assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    def test_scan_parts_cache_is_bounded(self, spark, sf_dir):
        saved = dict(catalog._SCAN_PARTS_CACHE)
        try:
            catalog._SCAN_PARTS_CACHE.clear()
            for i in range(catalog._SCAN_PARTS_CACHE_MAX):
                catalog._SCAN_PARTS_CACHE[("app", f"plan{i}")] = 1
            # a novel plan's insert must evict, not grow unbounded
            catalog.spread_input(
                catalog.load(spark, sf_dir, "customer").coalesce(1).select("c_custkey")
            )
            assert len(catalog._SCAN_PARTS_CACHE) <= catalog._SCAN_PARTS_CACHE_MAX
        finally:
            catalog._SCAN_PARTS_CACHE.clear()
            catalog._SCAN_PARTS_CACHE.update(saved)


class TestScopedPins:
    def test_release_scoped_pins_unpins_everything(self, spark, sf_dir):
        df = dedup._persist_scoped("r18_test_scope", catalog.load(spark, sf_dir, "nation"))
        df.count()
        assert df.storageLevel != StorageLevel.NONE
        released = dedup.release_scoped_pins()
        assert released >= 1
        assert "r18_test_scope" not in dedup._SCOPED_CACHES
        assert df.storageLevel == StorageLevel.NONE

    def test_big_pins_are_disk_only(self, spark, sf_dir):
        df = dedup._persist_scoped(
            "r18_test_big", catalog.load(spark, sf_dir, "nation"), big=True
        )
        assert df.storageLevel == StorageLevel.DISK_ONLY
        dedup.release_scoped_pins()

    def test_corpus_sized_pin_sites_declare_big(self):
        # the three VERDICT r17 #4 sites must keep their DISK_ONLY marking
        import inspect

        from projet_pipeline_bigdata_org_spark.operators import textops

        spans = inspect.getsource(dedup.dedup_duplicate_spans)
        assert '"spans_toks"' in spans and "big=True" in spans
        jac = inspect.getsource(dedup.dedup_jaccard_prefix)
        assert '"jacpref_ex"' in jac and "big=True" in jac
        att = inspect.getsource(textops.text_decontaminate_attrib)
        assert '"decontam_attrib_t"' in att and "big=True" in att


def _jobs_in_group(sc, group: str, marker: str) -> list[int]:
    """Job ids Spark recorded under ``group``. The status tracker is fed
    by the listener bus, so a marker job is run under ``marker`` after the
    work and awaited first: the bus is FIFO, so once the marker shows, every
    job the work started shows too."""
    sc.setJobGroup(marker, "flush the listener bus")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc._jsc.clearJobGroup()
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reached the status tracker"
        time.sleep(0.05)
    return list(sc.statusTracker().getJobIdsForGroup(group))


class TestDriverOverhead:
    def test_get_spark_turns_origin_capture_off(self, spark):
        assert spark.conf.get(DATAFRAME_DEBUGGING_CONF) == "false"

    def test_second_load_of_unchanged_table_starts_no_job(self, spark, tmp_path):
        sc = spark.sparkContext
        path = catalog.table_path(str(tmp_path), "nation")
        pq.write_table(pa.table({"n_nationkey": pa.array([0, 1], pa.int32())}), path)
        try:
            # positive control: the first load infers the schema in a job
            sc.setJobGroup("memo-first-load", "first load")
            catalog.load(spark, str(tmp_path), "nation")
            sc.setJobGroup("memo-second-load", "second load")
            df = catalog.load(spark, str(tmp_path), "nation")
        finally:
            sc._jsc.clearJobGroup()
        assert _jobs_in_group(sc, "memo-first-load", "memo-marker-1")
        assert _jobs_in_group(sc, "memo-second-load", "memo-marker-2") == []
        assert [r.n_nationkey for r in df.orderBy("n_nationkey").collect()] == [0, 1]

    def test_rewritten_file_shows_new_column(self, spark, tmp_path):
        path = catalog.table_path(str(tmp_path), "region")
        pq.write_table(
            pa.table({"r_regionkey": pa.array([0], pa.int32()), "r_name": ["AFRICA"]}), path
        )
        assert catalog.load(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
        pq.write_table(
            pa.table({
                "r_regionkey": pa.array([0, 1], pa.int32()),
                "r_name": ["AFRICA", "ASIA"],
                "r_comment": ["a", "b"],
            }),
            path,
        )
        df = catalog.load(spark, str(tmp_path), "region")
        assert df.columns == ["r_regionkey", "r_name", "r_comment"]
        assert sorted(r.r_comment for r in df.collect()) == ["a", "b"]

    def test_schema_memo_is_bounded(self, spark, sf_dir):
        saved = dict(catalog._SCHEMA_CACHE)
        try:
            catalog._SCHEMA_CACHE.clear()
            for i in range(catalog._SCHEMA_CACHE_MAX):
                catalog._SCHEMA_CACHE[("app", f"path{i}", 0, 0, 0)] = None
            # a novel table's insert must evict, not grow unbounded
            catalog.load(spark, sf_dir, "nation")
            assert len(catalog._SCHEMA_CACHE) == catalog._SCHEMA_CACHE_MAX
            assert any(k[1] == catalog.table_path(sf_dir, "nation") for k in catalog._SCHEMA_CACHE)
        finally:
            catalog._SCHEMA_CACHE.clear()
            catalog._SCHEMA_CACHE.update(saved)
