"""The worker-side zipimport hook (``_worker_zipimport``): in a PySpark
Python worker, ``importlib.invalidate_caches()`` at task start must not
re-read a zip archive whose stat is unchanged, must still re-read a
rewritten one, and the hook must stay out of every other process.

The import-system checks run in a subprocess, so this test process's own
``zipimport`` is never patched."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipimport
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from projet_pipeline_bigdata_org_spark.ml.enrich import stub_backend

REPO = Path(__file__).resolve().parent.parent

# Builds mods.zip holding module m, imports it from the zip, imports the
# package, then counts zipimport._read_directory calls per archive over
# repeated invalidate_caches(), before and after rewriting the zip.
_PROBE = r"""
import collections, importlib, json, os, sys, zipfile, zipimport

zpath = os.path.join(sys.argv[1], "mods.zip")

def write(src):
    with zipfile.ZipFile(zpath + ".tmp", "w") as z:
        z.writestr("m.py", src)
    os.replace(zpath + ".tmp", zpath)

write("X = 1\n")
sys.path.insert(0, zpath)
import m
import projet_pipeline_bigdata_org_spark
from projet_pipeline_bigdata_org_spark import _worker_zipimport

reads = collections.Counter()
real = zipimport._read_directory

def counting(archive):
    reads[archive] += 1
    return real(archive)

zipimport._read_directory = counting
hooked = zipimport.zipimporter.invalidate_caches
for _ in range(5):
    importlib.invalidate_caches()
warm = dict(reads)
write("X = 'rewritten, longer'\n")
importlib.invalidate_caches()
importlib.reload(m)
print(json.dumps({
    "installed": getattr(hooked, "stat_keyed", False),
    "reinstalled": _worker_zipimport.install(),
    "unchanged": zipimport.zipimporter.invalidate_caches is hooked,
    "warm_reads": warm,
    "reads": dict(reads),
    "x": m.X,
    "zip": zpath,
}))
"""


def _probe(tmp_path, secret: bool) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "PYTHON_WORKER_FACTORY_SECRET"}
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [str(REPO), env.get("PYTHONPATH")]))
    if secret:
        env["PYTHON_WORKER_FACTORY_SECRET"] = "test-secret"
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, str(tmp_path)],
        env=env, capture_output=True, text=True, check=True, timeout=120,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


eager_zipimport = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this interpreter's zipimport reads archive directories lazily",
)


@eager_zipimport
def test_worker_hook_reads_each_unchanged_archive_at_most_once(tmp_path):
    r = _probe(tmp_path, secret=True)
    assert r["installed"] and r["reinstalled"] and r["unchanged"]  # idempotent
    assert r["warm_reads"].get(r["zip"]) == 1, r["warm_reads"]
    assert max(r["warm_reads"].values()) <= 1, r["warm_reads"]
    # a rewritten archive is read again, and the reload sees the new code
    assert r["reads"][r["zip"]] == 2
    assert r["x"] == "rewritten, longer"


@eager_zipimport
def test_hook_not_installed_outside_a_worker(tmp_path):
    r = _probe(tmp_path, secret=False)
    assert not r["installed"] and not r["reinstalled"]
    assert r["warm_reads"][r["zip"]] == 5  # stock zipimport: one read per call
    assert r["x"] == "rewritten, longer"


def test_spark_worker_invalidate_caches_skips_pyspark_zip(spark):
    """Inside a real Python worker running a UDF that references a package
    function: after one invalidate_caches() (the one the next task would
    start with), another reads pyspark.zip's directory zero times, although
    the worker holds several zipimporters for it."""

    def probe(ids: pd.Series) -> pd.Series:
        import collections
        import importlib
        import sys as _sys
        import zipimport as _zi

        stub_backend([])  # the reference that makes the worker import the package
        importlib.invalidate_caches()
        reads = collections.Counter()
        real = _zi._read_directory

        def counting(archive):
            reads[archive] += 1
            return real(archive)

        _zi._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            _zi._read_directory = real
        def is_pyspark_zip(path):
            return os.path.basename(path) == "pyspark.zip"

        result = {
            "lazy": hasattr(_zi.zipimporter, "_get_files"),
            "importers": sum(
                isinstance(i, _zi.zipimporter) and is_pyspark_zip(i.archive)
                for i in _sys.path_importer_cache.values()
            ),
            "reads": sum(n for a, n in reads.items() if is_pyspark_zip(a)),
        }
        return pd.Series([json.dumps(result)] * len(ids))

    udf = F.pandas_udf(probe, "string")
    got = json.loads(
        spark.range(2).coalesce(1).select(udf(F.col("id").cast("string"))).collect()[0][0]
    )
    if got["lazy"]:
        pytest.skip("the worker's zipimport reads archive directories lazily")
    assert got["importers"] >= 2, got  # the worker imports pyspark from the zip
    assert got["reads"] == 0, got
