"""SparkSession factory.

Improves on the reference's global-module config (reference spark/config.py:1-17,
spark/engine.py:13-39) with one builder that pins the settings the oracle
comparison and local benchmarking need:

- UTC session timezone (Spark timestamps are session-tz; DuckDB's are naive UTC)
- AQE on (runtime re-plan, skew-join handling, partition coalescing)
- shuffle partitions sized to local cores, not the 200 default
- Arrow enabled for every pandas_udf / toPandas exchange
- DataFrame origin capture off (per-call Python stack collection; see
  ``get_spark`` for what that drops and how to turn it back on)

At cluster scale the same factory applies; only master/memory change.
External drivers may build their own SparkSession; ``ensure_runtime_confs``
(called from catalog.load) applies the same confs there at runtime.
"""

from __future__ import annotations

import logging
import os
import weakref

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

DEFAULT_SHUFFLE_PARTITIONS = 32

#: guide §2.2/§9 post-shuffle partition sizing target: partitions should
#: land in the 100 MB - 1 GB band after AQE coalescing; 256 MB advisory
SHUFFLE_TARGET_PARTITION_BYTES = 256 * 1024 * 1024


def derive_shuffle_partitions(input_bytes: int, total_cores: int) -> int:
    """Size ``spark.sql.shuffle.partitions`` from the deployment's input
    scale (VERDICT r17 #9; guide §2.2 "fewer, larger reduce partitions"):
    ceil(input_bytes / 256 MB) so post-shuffle partitions land in the
    guide's 100 MB-1 GB band, floored at 2x total executor cores so every
    core gets work even on small inputs, capped at 2^17 (at 100 TB the
    size rule gives ~400k raw partitions — beyond ~130k the M x R shuffle
    block count dominates, guide §2.2's quadratic-blocks warning; AQE
    coalescing trims any overshoot at runtime). Pure function so the rule
    is testable; wired through $SPARK_GRAFT_INPUT_BYTES below — without
    it the default stays DEFAULT_SHUFFLE_PARTITIONS."""
    by_size = -(-int(input_bytes) // SHUFFLE_TARGET_PARTITION_BYTES)
    return int(min(max(by_size, 2 * int(total_cores)), 1 << 17))

#: static SQL conf (settable only at session build, so not a runtime conf
#: below): whether PySpark records each DataFrame API call's Python call site
DATAFRAME_DEBUGGING_CONF = "spark.python.sql.dataFrameDebugging.enabled"

#: correctness-required on ANY session running engine queries: wrong values
#: crash events reads (parquet nanos) or silently shift timestamp results.
REQUIRED_CONFS = {
    "spark.sql.session.timeZone": "UTC",  # oracle timestamp parity
    # events.parquet carries TIMESTAMP(NANOS); Spark has no nanos type —
    # read as long, catalog.load converts to micros (DuckDB-equivalent)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def _shuffle_partitions() -> str:
    """Scale-adaptive: explicit SPARK_GRAFT_SHUFFLE_PARTITIONS wins; else,
    when the deployment declares its input scale via SPARK_GRAFT_INPUT_BYTES
    (+ optionally SPARK_GRAFT_TOTAL_CORES), the guide §2.2 size rule applies
    (derive_shuffle_partitions); else the local default. perfbench sets
    neither, so its runs use DEFAULT_SHUFFLE_PARTITIONS."""
    explicit = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if explicit is not None:
        return explicit
    raw = os.environ.get("SPARK_GRAFT_INPUT_BYTES", "")
    if raw.isascii() and raw.isdigit():
        cores = os.environ.get(
            "SPARK_GRAFT_TOTAL_CORES",
            os.environ.get("SPARK_GRAFT_CPUS", "32").strip("*") or "32",
        )
        return str(derive_shuffle_partitions(int(raw), int(cores)))
    if raw:
        # a misread scale must not quietly size a 100 TB job like a laptop
        log.warning(
            "SPARK_GRAFT_INPUT_BYTES=%r is not a plain byte count (digits "
            "only); ignoring it, spark.sql.shuffle.partitions stays %d",
            raw, DEFAULT_SHUFFLE_PARTITIONS,
        )
    return str(DEFAULT_SHUFFLE_PARTITIONS)


def _perf_confs() -> dict[str, str]:
    """Performance confs (safe defaults for engine workloads; read env at
    call time so deployments can steer them)."""
    return {
        "spark.sql.shuffle.partitions": _shuffle_partitions(),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # local-mode scan parallelism: testdata tables are single small
        # parquet files; the 128m default gives 1-task scans on 32 cores.
        # Cluster deployments override via SPARK_GRAFT_MAX_PARTITION_BYTES.
        "spark.sql.files.maxPartitionBytes": os.environ.get(
            "SPARK_GRAFT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024)
        ),
    }


# weak refs: a recycled id() of a stopped session must not suppress ensure
_ENSURED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally-built session
    (idempotent per live session object; all keys are runtime-settable
    SQL confs).

    Required confs that cannot be applied AND hold a wrong value are a
    correctness problem — surfaced loudly instead of swallowed."""
    if spark in _ENSURED:
        return spark
    for k, v in REQUIRED_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as err:
            current = None
            try:
                current = spark.conf.get(k, None)
            except Exception:
                pass
            if current != v:
                log.error(
                    "required conf %s=%s could not be applied (current=%s): %s — "
                    "events reads may crash and timestamp results may shift",
                    k, v, current, err,
                )
    for k, v in _perf_confs().items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # perf-only: keep the deployment's own tuning
    _ENSURED.add(spark)
    return spark


def get_spark(
    app_name: str = "projet_pipeline_bigdata_org_spark",
    cpus: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, else all local cores.

    DataFrame origin capture (:data:`DATAFRAME_DEBUGGING_CONF`) is off:
    with it on, PySpark collects the caller's stack and sends it over
    Py4J on every Column / ``functions`` call, which was about half to two
    thirds of the Py4J commands a registered query builder sent. The
    cost is that a runtime error's DataFrame context no longer names the
    Python call site. To get it back, pass
    ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
    when the session is first built: it is a static conf, and PySpark
    reads it once per process.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in {**REQUIRED_CONFS, **_perf_confs()}.items():
        builder = builder.config(k, v)
    builder = (
        builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config(DATAFRAME_DEBUGGING_CONF, "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # every required+perf conf was just applied via the builder: mark ensured
    # so a later catalog.load() doesn't clobber deliberate runtime overrides
    # (e.g. a test disabling autoBroadcastJoinThreshold to see cluster plans)
    _ENSURED.add(spark)
    return spark
