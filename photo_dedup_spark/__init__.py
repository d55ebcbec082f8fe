"""photo_dedup_spark — a PySpark-native near-duplicate detection and
clustering engine with the query/data-processing capabilities of the
reference ``rockon8765/photo-dedup`` (a sequential single-machine photo
dedup tool), re-expressed Spark-first over a table of source-code files
``(repo, path, commit, lang, content)``.

Pipeline (SURVEY.md §3.1):
    ingest → exact sha256 keys → MinHash/SimHash signatures (pandas UDFs)
    → LSH band candidates (repartitioned + skew-salted self-join)
    → Jaccard/Hamming/containment verify → iterative connected components
    → keep-selection window → report + action plan.

Nothing in here is a port: the reference's os.walk/hash-dict/BK-tree
internals (reference scanner.py) are replaced by DataFrame operators;
only the *semantics* (duplicate grouping, deterministic keep selection,
reversible action plan) are reproduced.
"""

import zipimport

from photo_dedup_spark.config import DedupConfig


def _keep_zip_directories(self) -> None:
    """Stand-in for ``zipimport.zipimporter.invalidate_caches``: keep the
    archive directory this importer has already read."""


# pyspark's worker calls ``importlib.invalidate_caches()`` before every
# task (``pyspark/worker_util.py:144``, ``setup_spark_files``).  On
# Python 3.11 that makes every zipimporter in ``sys.path_importer_cache``
# re-read its archive's central directory at once: a reused worker holds
# 16 of them (12 over pyspark.zip, 2 over the py4j zip, 2 over the
# 15 MB spark-core jar), about 175 ms of CPU per task whatever the task
# does.  Engine UDFs import this package, so once a worker has run one
# engine task the patch covers every later task it runs, engine or not
# (the driver imports the package too).  Trade-off: a zip re-added by ``addPyFile`` at a path a
# warm worker has already read, with new contents, is not re-read; a new
# path still gets a new importer, and the engine adds no zips.  The hook
# cannot go through ``spark.python.worker.module``: the daemon loads only
# modules whose name starts with "pyspark" (``pyspark/daemon.py:34``)
# and silently falls back to its own worker otherwise.
zipimport.zipimporter.invalidate_caches = _keep_zip_directories

__all__ = ["DedupConfig"]
__version__ = "0.1.0"
