"""Session defaults, checked without starting Spark."""

from __future__ import annotations

import os
from types import SimpleNamespace

from photo_dedup_spark import session


class _Builder:
    """Records what ``build_session`` asks of ``SparkSession.builder``."""

    def __init__(self):
        self.conf: dict = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def _built_conf(monkeypatch) -> dict:
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=_Builder()))
    for var in ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
        monkeypatch.setenv(var, os.environ.get(var, str(64 * 1024 * 1024)))
    return session.build_session()


def test_local_defaults_follow_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    conf = _built_conf(monkeypatch)
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    assert conf["master"] == f"local[{cpus}]"
    assert conf["spark.sql.shuffle.partitions"] == str(max(32, 4 * cpus))
    assert conf["spark.driver.memory"] == f"{min(24 * 1024, total_mb // 2)}m"


def test_environment_overrides_the_host(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "700m")
    conf = _built_conf(monkeypatch)
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.files.minPartitionNum"] == "12"
    assert conf["spark.driver.memory"] == "700m"
