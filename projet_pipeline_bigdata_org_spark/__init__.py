"""PySpark-native analytics engine with the capabilities of the reference
Reddit financial-sentiment pipeline (Projet-BigData-Reddit/Projet_Pipeline_BigData_org),
re-expressed Spark-first, plus the relational / streaming / LLM-data-pipeline
operator surface described in SURVEY.md §2.

Layout
------
- ``session``    : SparkSession factory (AQE, UTC, Arrow, local[N])
- ``catalog``    : loaders for the driver-provided parquet tables
- ``plans``      : query registry — every operator is a ``(spark, sf_dir) -> DataFrame``
                   with an optional DuckDB oracle-SQL twin
- ``operators``  : relational core, dedup, similarity, text analysis, multimodal
- ``functions``  : scalar column packs (cleaning, temporal, buckets, extraction)
- ``sources``    : batch/streaming readers and failover sinks
- ``streaming``  : event-time windows, watermarks, sessionization
- ``ml``         : SparkML feature/virality pipeline (reference M1-M10)

Importing the package in a PySpark Python worker also installs
``_worker_zipimport``: PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task
(``worker_util.setup_spark_files``), and on CPython 3.11/3.12 that makes
each of the worker's ~16 ``zipimporter``s for ``pyspark.zip`` re-read the
archive's whole directory (``zipimport.zipimporter.invalidate_caches``),
135-250 ms per task. The hook re-reads an archive only when its stat
changed. Every engine UDF imports the package when the worker unpickles
it, so from a worker's second task on the cost is gone. The hook is inert
in the driver (no ``PYTHON_WORKER_FACTORY_SECRET``) and on 3.13+, whose
``zipimport`` reads lazily.
"""

from projet_pipeline_bigdata_org_spark import _worker_zipimport

__version__ = "0.1.0"

_worker_zipimport.install()
