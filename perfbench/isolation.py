"""Run isolation: every run works in a fresh directory under the
checkout and removes it on exit, so no run sees another run's lakes,
caches, warehouse or metastore, and nothing is left in the checkout.

The program's lake caches key on ``$SPARK_GRAFT_LAKE_DIR`` (otherwise
``spark-warehouse/`` in the repo), so a run that reused them would time
a cache hit instead of a build. Python workers need the checkout on
``PYTHONPATH``: without it ``mapInPandas`` fails to import the package.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "pokemon_showdown_airflow_etl_spark"
SCRATCH = ROOT / ".perfbench_tmp"
LOG4J = Path(__file__).resolve().parent / "log4j2.properties"


def check_checkout() -> None:
    """Fail fast when the program is not beside the benchmark (the
    benchmark builds and runs the program from source)."""
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        raise SystemExit(f"perfbench: no {PACKAGE}/ package next to perfbench/ in {ROOT}")


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A fifth of physical memory, between 1 and 2 GiB: the workloads
    pin only small frames in the driver, and the host is shared."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1024, min(2048, total_kb // 1024 // 5))


class RunDir:
    """A fresh scratch tree for one run: ``lake/`` (the lake-cache root),
    ``data/`` (generated inputs), ``work/`` (lakes the workload writes),
    plus Spark's warehouse, local and temp dirs."""

    def __init__(self) -> None:
        self.path = SCRATCH / f"run-{os.getpid()}-{time.time_ns()}"
        for sub in ("lake", "data", "work", "warehouse", "local", "tmp"):
            (self.path / sub).mkdir(parents=True)

    def sub(self, *parts: str) -> str:
        p = self.path.joinpath(*parts)
        p.mkdir(parents=True, exist_ok=True)
        return str(p)

    def environ(self) -> dict[str, str]:
        cpus = host_cpus()
        return {
            "SPARK_GRAFT_LAKE_DIR": str(self.path / "lake"),
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_LOCAL_DIRS": str(self.path / "local"),
            "PYTHONPATH": os.pathsep.join(
                [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
            ),
            "PYTHONDONTWRITEBYTECODE": "1",  # no __pycache__ in the checkout
            "PYTHONHASHSEED": "0",  # Python-side hashing repeats across runs
            "TMPDIR": str(self.path / "tmp"),
        }

    def spark_conf(self, trace: bool) -> dict[str, str]:
        java_opts = " ".join(
            [
                f"-Djava.io.tmpdir={self.path / 'tmp'}",
                f"-Dderby.system.home={self.path / 'warehouse'}",
                f"-Dlog4j2.configurationFile=file:{LOG4J}",
                "-XX:-UsePerfData",  # no hsperfdata files in /tmp
            ]
        )
        conf = {
            "spark.driver.memory": f"{driver_memory_mb()}m",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": str(self.path / "warehouse"),
            "spark.local.dir": str(self.path / "local"),
            "spark.port.maxRetries": "64",
        }
        if trace:
            # keep every span's jobs and stages for the REST collector
            conf.update(
                {
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    "spark.ui.retainedTasks": "1000000",
                    "spark.sql.ui.retainedExecutions": "100000",
                }
            )
        return conf

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            SCRATCH.rmdir()  # only when no concurrent run still uses it
        except OSError:
            pass


def start_session(run_dir: RunDir, trace: bool):
    """The program's own session builder (``session.get_spark``), with
    the run's directories and the host-sized driver."""
    os.environ.update(run_dir.environ())
    from pokemon_showdown_airflow_etl_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=run_dir.spark_conf(trace))
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait until every process this
    run started (JVM, Python workers) has exited."""
    from perfbench.trace import process_tree

    if spark is not None:
        from pyspark import SparkContext

        try:
            spark.stop()
        except Exception as exc:  # e.g. a signal cut a gateway call short; the JVM is ended below
            print(f"perfbench: spark.stop() failed: {exc!r}", file=sys.stderr)
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception as exc:
                print(f"perfbench: gateway shutdown failed: {exc!r}", file=sys.stderr)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits at EOF on stdin
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
    deadline = time.monotonic() + 30
    while True:
        left = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)
