"""The session fits the host it lands on: with the environment
variables unset, ``get_session`` takes the CPUs this process may run on
and a driver heap no larger than physical memory."""

from __future__ import annotations

import os

_UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def _bytes(size: str) -> int:
    size = size.strip().lower().rstrip("b")
    if size[-1] in _UNITS:
        return int(size[:-1]) * _UNITS[size[-1]]
    return int(size) * 2**20  # a bare number is MiB for spark.driver.memory


def test_session_fits_host(spark):
    conf = spark.sparkContext.getConf()
    heap = conf.get("spark.driver.memory")
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        assert heap == os.environ["SPARK_DRIVER_MEMORY"]
    else:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        assert _bytes(heap) <= ram, f"driver heap {heap} exceeds {ram} bytes of RAM"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    assert spark.sparkContext.master == f"local[{cpus}]"
