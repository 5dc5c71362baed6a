"""Session defaults sized to the host, checked on the builder's options:
``getOrCreate`` is replaced, so no second JVM starts."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

from astrospectro_spark import session

GRAFT_VARS = (
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_LOCAL_DIR",
)


class _Stub:
    class sparkContext:  # noqa: N801 — stands in for the attribute
        @staticmethod
        def setLogLevel(level):
            pass


@pytest.fixture
def built(monkeypatch):
    """Builder options of the next ``get_spark`` call, on a 3-core host
    with ``mem_gb`` GB of physical memory."""
    seen = {}

    def get_or_create(self):
        seen.update(self._options)
        return _Stub()

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    for v in GRAFT_VARS:
        monkeypatch.delenv(v, raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})

    def build(mem_gb: int = 6, **kw):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": mem_gb * 2**30 // 4096}
        monkeypatch.setattr(os, "sysconf", pages.__getitem__)
        seen.clear()
        session.get_spark(**kw)
        return dict(seen)

    return build


def test_defaults_follow_the_host(built):
    opts = built(mem_gb=6)
    assert opts["spark.master"] == "local[3]"
    assert opts["spark.sql.shuffle.partitions"] == "3"
    assert opts["spark.driver.memory"] == "3072m"  # half of 6 GB
    assert built(mem_gb=64)["spark.driver.memory"] == "16384m"  # capped at 16 GB
    assert opts["spark.sql.codegen.cache.maxEntries"] == "2048"
    assert opts["spark.sql.adaptive.coalescePartitions.minPartitionSize"] == "256k"


def test_graft_variables_keep_their_meaning(built, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    opts = built()
    assert opts["spark.master"] == "local[5]"
    assert opts["spark.sql.shuffle.partitions"] == "5"
    for var, val in {
        "SPARK_GRAFT_MASTER": "local[2]",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": "7",
        "SPARK_GRAFT_DRIVER_MEM": "4g",
    }.items():
        monkeypatch.setenv(var, val)
    opts = built()
    assert opts["spark.master"] == "local[2]"
    assert opts["spark.sql.shuffle.partitions"] == "7"
    assert opts["spark.driver.memory"] == "4g"
    # explicit arguments still win over the environment
    opts = built(master="local[1]", shuffle_partitions=9)
    assert opts["spark.master"] == "local[1]"
    assert opts["spark.sql.shuffle.partitions"] == "9"


def test_caller_java_options_keep_the_code_cache_flag(built):
    opts = built(
        extra_conf={
            "spark.driver.extraJavaOptions": "-XX:ActiveProcessorCount=2",
            "spark.app.id": "x",
        }
    )
    assert opts["spark.driver.extraJavaOptions"] == (
        "-XX:ReservedCodeCacheSize=512m -XX:ActiveProcessorCount=2"
    )
    assert opts["spark.executor.extraJavaOptions"] == "-XX:ReservedCodeCacheSize=512m"
    assert opts["spark.app.id"] == "x"
