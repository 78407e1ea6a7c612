"""Start and stop the engine for one benchmark run.

The environment the engine reads at import or JVM launch is set first:
every path it writes (stage cache, shuffle/spill dirs, JVM and Python temp
files, warehouse) points into the run directory, and the checkout root
goes on ``PYTHONPATH`` so Spark's Python workers import the package
whatever directory the run starts from.
"""

from __future__ import annotations

import os
import subprocess
import time

from perfbench.harness import RunDir, Tracer, descendants, wait_gone

PACKAGE = "projet_pipeline_bigdata_org_spark"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(root: str, run: RunDir) -> None:
    os.environ["SPARK_GRAFT_STAGE_CACHE"] = run.sub("stage_cache")
    # The engine's default 8g driver heap is capped at 2g: the benchmark
    # runs on machines whose memory is shared, and under an 8g cap the heap
    # grows with GC timing, so peak RSS followed host speed (run-to-run
    # spread 0.18-0.25 of the median on reddit_ingest, against 0.05-0.13
    # at 2g, on a 4-core host). Both workloads check out with no failed
    # operation at 2g.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = run.sub("spark_local")
    os.environ["TMPDIR"] = run.sub("tmp")
    # the JVM that spark-submit starts first to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run.sub('tmp')}"
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


class Engine:
    """One SparkSession on ``local[<cpus>]`` plus the loaded query registry."""

    def __init__(self, run: RunDir, tracer: Tracer):
        self.run = run
        self.tracer = tracer
        self.spark = None
        self.session_s = 0.0
        self.registry_s = 0.0

    def start(self, app_name: str) -> None:
        from projet_pipeline_bigdata_org_spark.session import get_spark

        tmp = self.run.sub("tmp")
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name=app_name,
                cpus=cpus(),
                extra_conf={
                    "spark.sql.warehouse.dir": self.run.sub("warehouse"),
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                },
            )
        t1 = time.perf_counter()
        with self.tracer.span("plans.load_all"):
            from projet_pipeline_bigdata_org_spark import plans

            plans.load_all()
        self.session_s = t1 - t0
        self.registry_s = time.perf_counter() - t1

    @property
    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def resolve(self, names: list[str]) -> dict[str, tuple]:
        """``name -> (builder, oracle_sql)`` from the registry, which also
        accepts the ``a0_`` display prefix its rotation gives some names.
        A missing name or oracle raises, so a rotation can never quietly
        shrink a workload."""
        from projet_pipeline_bigdata_org_spark import plans

        out = {}
        for name in names:
            try:
                spec = plans.get(name)
            except KeyError:
                raise KeyError(f"query {name!r} is not in the registry") from None
            if spec.oracle is None:
                raise KeyError(f"query {name!r} has no oracle SQL")
            out[name] = (spec.fn, spec.oracle)
        return out

    def stop(self) -> None:
        """Stop Spark, the JVM it launched and the JVM's Python workers,
        and wait until every one of them has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        try:
            kids = descendants(self.jvm_pid)
        except Exception:  # the JVM is already gone
            kids = []
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
        wait_gone(kids, timeout_s=20)
