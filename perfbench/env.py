"""Host-fit Spark set-up for the benchmark.

The engine's ``get_session`` defaults to a 24g JVM heap and 8 CPUs;
this module sizes both from the host instead (CPUs from the affinity
mask, passed to ``get_session``; heap from physical memory, through the
``SPARK_DRIVER_MEMORY`` variable it reads) and keeps every file Spark,
the JVM and Python write under one work directory.

``start`` is the benchmark's set-up: import the package, start the
session, load the query registry; ``stop`` ends the session.
"""

from __future__ import annotations

import os
import shlex
import sys
import time
from dataclasses import dataclass
from typing import Any, Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_heap_mb() -> int:
    """A sixth of physical memory, between 1 and 4 GiB: the data sets
    are small, and the host's memory is shared with other processes."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return max(1024, min(4096, total_mb // 6))


def prepare(work: str) -> None:
    """Point Spark, the JVM and Python's tempfile at ``work`` and size
    the JVM heap to the host. Must run before the JVM starts; child
    processes (the JVM, Python workers) inherit it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
    os.environ.update({
        "SPARK_DRIVER_MEMORY": f"{host_heap_mb()}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--driver-java-options", java_opts,
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    })
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


@dataclass
class Setup:
    spark: Any
    queries: dict
    oracles: dict
    session_s: float
    registry_s: float

    @property
    def setup_s(self) -> float:
        return self.session_s + self.registry_s


def start(before_load: Callable[[], None] | None = None) -> Setup:
    """Import the package and start its session (``session_s``), then
    load the query registry (``registry_s``). ``before_load`` runs
    between the two, untimed: tracing wraps module functions there,
    before operator modules bind them."""
    t0 = time.perf_counter()
    import systematic_review_classification_spark as pkg

    spark = pkg.get_session(app_name="perfbench", cpus=host_cpus())
    t1 = time.perf_counter()
    if before_load is not None:
        before_load()
    t2 = time.perf_counter()
    pkg.load_all()
    queries, oracles = pkg.all_queries(), pkg.all_oracles()
    t3 = time.perf_counter()
    return Setup(spark, queries, oracles, t1 - t0, t3 - t2)


def stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None and getattr(gw, "proc", None) is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)

