"""Session defaults, checked without starting Spark, and the engine's
zipimport hook, checked inside the session's Python workers."""

from __future__ import annotations

import os
import uuid
import zipfile
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


def _probe_workers(spark):
    """One row per task: was the engine's hook already installed when the
    task started, and did ``importlib.invalidate_caches()`` leave every
    zipimporter's directory in place."""

    # nested, so cloudpickle ships it by value: workers cannot import tests
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        hooked_at_start = (
            zipimport.zipimporter.invalidate_caches.__name__ == "_keep_zip_directories"
        )
        import photo_dedup_spark

        zips = [
            f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)
        ]
        before = [f._files for f in zips]
        importlib.invalidate_caches()
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "hooked_at_start": [hooked_at_start],
                "hooked": [
                    zipimport.zipimporter.invalidate_caches
                    is photo_dedup_spark._keep_zip_directories
                ],
                "zips": [len(zips)],
                "kept": [all(f._files is b for f, b in zip(zips, before))],
            }
        )

    schema = "hooked_at_start boolean, hooked boolean, zips int, kept boolean"
    return spark.range(8, numPartitions=4).mapInPandas(probe, schema).collect()


def test_worker_tasks_keep_their_zip_directories(spark):
    rows = _probe_workers(spark)
    assert len(rows) == 4
    assert all(r.hooked for r in rows)
    # pyspark.zip, the py4j zip and the spark-core jar are on every
    # worker's sys.path, so the check below is never vacuous
    assert all(r.zips > 0 for r in rows)
    assert all(r.kept for r in rows)


def test_zip_added_at_a_new_path_is_still_imported(spark, tmp_path):
    # once the hook is active in the session's workers ...
    assert any(r.hooked_at_start for r in _probe_workers(spark) + _probe_workers(spark))
    # ... a zip at a path no worker has read gets a fresh zipimporter
    module = f"zip_probe_{uuid.uuid4().hex}"
    path = tmp_path / f"{module}.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", f"TOKEN = {module!r}\n")
    spark.sparkContext.addPyFile(str(path))

    def load(rows):
        import importlib

        token = importlib.import_module(module).TOKEN
        return [token for _ in rows]

    got = spark.sparkContext.parallelize(range(8), 4).mapPartitions(load).collect()
    assert got == [module] * 8
