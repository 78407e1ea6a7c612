"""Batch sources & sinks (SURVEY.md §2.1): schema-first JSON/CSV readers
(S2 — the reference always passes an explicit schema, never inference),
bronze-layer JSON-lines archive (S7, the ADLS append re-done as an
append-only lake directory), and partitioned parquet writes (the 100 TB
lake layout: partition pruning comes free on read).
"""

from __future__ import annotations

from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    multiline: bool = False,
) -> DataFrame:
    """Schema-enforced JSON scan (reference model_training.py:31 reads a
    multiline JSON array with an explicit schema; PERMISSIVE nulls malformed
    records, matching from_json's behavior on the stream path)."""
    return (
        spark.read.schema(schema)
        .option("multiLine", str(multiline).lower())
        .option("mode", "PERMISSIVE")
        .json(path)
    )


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Schema-enforced scan of comma-separated CSV with a header line (no
    inferSchema — one pass, deterministic types)."""
    return spark.read.schema(schema).option("header", "true").csv(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — the columnar format Spark supports natively besides
    parquet (vectorized reader, predicate pushdown, column pruning all
    apply). ORC files are self-describing, so no schema is passed."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC overwrite (zlib default compression). Functionally parquet's
    peer in this engine; exists so ORC-standardized lakes can adopt the
    pipeline without a format migration."""
    df.write.mode("overwrite").orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """XML scan via Spark 4's BUILT-IN xml source (no external package —
    the databricks-spark-xml lineage merged upstream in 3.4/4.x):
    ``rowTag`` picks the repeating element, attributes surface under the
    default ``_`` prefix, malformed rows null out PERMISSIVE-ly like the
    JSON path. Pass a schema for one-pass deterministic types on large
    directories (inference re-reads the data, the no-inferSchema rule
    read_csv already applies)."""
    reader = spark.read.format("xml").option("rowTag", row_tag).option(
        "mode", "PERMISSIVE"
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(df: DataFrame, path: str, row_tag: str) -> None:
    """XML overwrite (built-in sink, one <rowTag> element per row) — exists
    for the interchange exports ORC/CSV cover on the columnar side;
    row-major text, so parquet stays the lake format and this is an
    edge-export only."""
    df.write.mode("overwrite").format("xml").option("rowTag", row_tag).save(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    path_glob: str | None = None,
) -> DataFrame:
    """Raw-file scan via Spark's built-in ``binaryFile`` source: one row
    per file with (path, modificationTime, length, content binary) — the
    ingestion front door for the multimodal decode pipeline
    (operators/multimodal.py): media files on a lake land as opaque
    binary payloads WITHOUT any driver-side file listing or Python I/O,
    then flow through the mapInPandas decode kernel like any other
    binary column.

    Scale notes: ``pathGlobFilter`` prunes by extension at LISTING time
    (never reads rejected files); the source never splits one file
    across tasks, so a decode kernel always sees whole payloads. To
    tune how many SMALL files coalesce into one task (the
    millions-of-small-images layout), wrap the read *and its action* in
    :func:`small_file_coalescing` — a ``maxPartitionBytes``
    DataFrameReader option is NOT a file-source option and Spark
    silently ignores it (it was one here until round 9)."""
    reader = spark.read.format("binaryFile")
    if path_glob is not None:
        reader = reader.option("pathGlobFilter", path_glob)
    return reader.load(path)


@contextmanager
def small_file_coalescing(
    spark: SparkSession,
    max_partition_bytes: str,
    open_cost_in_bytes: str = "1048576",
):
    """Scoped small-file-coalescing for file-source scans: sets
    ``spark.sql.files.maxPartitionBytes`` and
    ``spark.sql.files.openCostInBytes`` for the block and restores the
    prior values on exit.

    The block must enclose the ACTION, not just ``spark.read...load()``:
    Spark computes file-split packing at *physical-planning* time of each
    query execution, not at load. Empirically (Spark 4.1.2): a conf set
    at load and restored before ``.count()`` is silently ignored, and
    every downstream transformation re-plans under whatever the session
    conf is at that moment — which is why the old per-read
    ``max_partition_bytes`` parameter could never work. Both knobs
    matter: a file's packing cost is ``size + openCostInBytes`` (default
    4 MiB), so with the default open cost small files never coalesce no
    matter how large ``maxPartitionBytes`` is."""
    keys = {
        "spark.sql.files.maxPartitionBytes": max_partition_bytes,
        "spark.sql.files.openCostInBytes": open_cost_in_bytes,
    }
    prior = {k: spark.conf.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)


def write_bronze_json(df: DataFrame, path: str) -> None:
    """Bronze archive: append JSON-lines (reference S7 buffers 10 records and
    appends to one ADLS file — a single-writer bottleneck; a directory of
    part files appends from every executor in parallel instead)."""
    df.write.mode("append").json(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: Sequence[str]
) -> None:
    """Lake layout write: hive-style partition directories so later scans
    prune partitions from the predicate (static + dynamic pruning)."""
    df.write.mode("append").partitionBy(*partition_cols).parquet(path)


def read_lake(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned lake directory (partition columns recovered from
    the directory layout)."""
    return spark.read.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    path: str,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Bucketed (hash-clustered) table write — the co-located-join layout.

    Two fact tables bucketed by the same key into the same bucket count
    join WITHOUT a shuffle: each scan task reads matching buckets and the
    join is planned exchange-free (SortMergeJoin over bucketed scans). At
    100 TB this converts the nightly fact-fact join from the dominant
    network cost to a local merge; sortBy within buckets additionally
    removes the per-task sort. The layout is the declarative twin of the
    reference's single-partition Kafka topic (its only 'co-location').
    """
    w = df.write.mode("overwrite").option("path", path)
    w = w.bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


#: the column a PERMISSIVE JSON scan puts a malformed line's raw text in
CORRUPT_COL = "_corrupt_record"


def read_jsonl_with_quarantine(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE JSONL scan that splits clean rows from a quarantine of
    malformed lines (raw text preserved for replay/debugging) — at 100 TB
    some records are ALWAYS malformed, and failing the job (FAILFAST) or
    silently nulling them (plain PERMISSIVE) both lose data. One scan, one
    filter each side, no second pass.

    Note the Spark subtlety: a row is corrupt iff `CORRUPT_COL` is set; the
    corrupt-record column must be part of the declared schema, and filtering
    on it requires the scan to retain raw text (Spark forbids referencing it
    from a bare scan without a materialization boundary — a cache here).
    """
    full_schema = T.StructType(
        schema.fields + [T.StructField(CORRUPT_COL, T.StringType(), True)]
    )
    df = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
        .cache()
    )
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw")
    )
    return good, quarantine


def write_zorder_table(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int = 16,
) -> None:
    """Z-order clustered lake write (the OPTIMIZE ZORDER compaction shape):
    rows range-partitioned and sorted by the Morton interleave of two
    dimension columns, so each parquet file covers a small axis-aligned
    rectangle of the (x, y) value space and min/max footer stats prune most
    files for ANY 2-D box predicate — where a single-column sort only
    prunes on its own prefix.

    Scale shape: ``repartitionByRange`` is a sampled ranged exchange (never
    a single-node global sort) + per-partition sort — the standard
    compaction cost, paid once so every later scan skips. NULL dimensions
    yield a NULL key; range partitioning routes them to one edge partition
    rather than aliasing them into the data's coordinate space. The
    interleave key is dropped before writing — the pruning stats that
    matter are the raw dimension columns'.

    tests/test_sources.py quantifies the effect on real footer stats:
    files overlapping a box predicate under this layout vs a row-ordered
    layout of the same rows.
    """
    from projet_pipeline_bigdata_org_spark.functions.zorder import morton_key

    keyed = df.withColumn("__zorder", morton_key(F.col(x_col), F.col(y_col)))
    (
        keyed.repartitionByRange(n_files, "__zorder")
        .sortWithinPartitions("__zorder")
        .drop("__zorder")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_training_shards(
    ordered: DataFrame,
    path: str,
    max_records_per_file: int = 100_000,
) -> None:
    """The engine's end product: materialize a curriculum-ordered corpus
    (curate_curriculum_order's (stage, shard, rank_in_shard) contract —
    or any frame carrying those columns) as the shard layout a training
    loader consumes: one ``shard=<k>`` directory per shard, files inside
    SORTED by (stage, rank_in_shard) with a per-file record cap, so a
    loader streaming a shard's files in name order replays the exact
    curriculum with no shuffle buffer, and S shards feed S data-parallel
    workers with no cross-worker coordination.

    Scale shape: one ranged/hash exchange on shard (the partitionBy
    write), per-partition sort (never a global single-node sort),
    maxRecordsPerFile bounding every file for loader-side streaming —
    the same write-governance discipline as the sortWithinPartitions
    lake writes. Determinism: the input contract is engine-recomputable
    (wrap-free coin), so a crashed export rerun writes byte-identical
    shard contents.
    """
    (
        ordered.repartition("shard")
        .sortWithinPartitions("stage", "rank_in_shard")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("shard")
        .parquet(path)
    )
