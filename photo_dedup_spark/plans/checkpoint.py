"""Checkpoint/resume stage framework with per-stage lineage metrics.

The reference's durability story is a transaction log with a status
state machine (``in_progress → moves_complete → complete → undone``,
/root/reference/photo_dedup/cleaner.py:313,794,1102,1254), fsync
batching (cleaner.py:53,324-335), and a guard that refuses to operate
over an incomplete log (cleaner.py:694-705).

Our analog, scaled to a staged Spark job: every stage writes parquet +
``_metrics.json`` (rows out, wall-time, config-hash, and PER-PARTITION
row counts, one per written part file, with a skew ratio — the north
rule's "per-partition lineage + metrics"); a stage is valid iff parquet
``_SUCCESS`` exists, metrics parse, and both the layout version and the
config hash match.  A rerun
resumes after the longest valid prefix — never silently over a
half-written checkpoint.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

METRICS_FILE = "_metrics.json"
# Stamped into every stage's metrics and required on reuse.  Bump it
# whenever a stage's output schema changes: a work dir written under the
# old layout then rebuilds instead of feeding old columns to a new stage.
LAYOUT_VERSION = 1


@dataclass
class StageResult:
    name: str
    path: str
    rows: int
    wall_s: float
    reused: bool


def _part_file_rows(spark: SparkSession, data_dir: str) -> dict[int, int]:
    """Rows per written partition, read from the part files' parquet
    footers through the Hadoop ``FileSystem`` API on the driver (no
    Spark job).  A part file is named after its write task
    (``part-<task>-…``); a task that wrote nothing leaves no file, and
    one that split its output over several files is summed."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(data_dir)
    rows: dict[int, int] = {}
    for status in path.getFileSystem(conf).listStatus(path):
        name = status.getPath().getName()
        if not name.startswith("part-"):
            continue
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf)
        )
        try:
            n = reader.getRecordCount()
        finally:
            reader.close()
        task = int(name.split("-")[1])
        rows[task] = rows.get(task, 0) + n
    return rows


class StageRunner:
    """Runs named stages with checkpoint + resume semantics.

    A fresh stage costs the Spark jobs of its write and nothing more:
    ``rows_out`` is an ``observe`` count taken by the write itself, and
    ``partition_lineage`` counts rows per WRITTEN part file (one per
    non-empty write task, from the parquet footers), so its
    ``n_partitions`` is the number of tasks that wrote rows.  The stage
    fails if the two totals disagree."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        config_hash: str,
        resume: bool = True,
    ):
        self.spark = spark
        self.base_dir = base_dir
        self.config_hash = config_hash
        self.resume = resume
        self.results: list[StageResult] = []
        self._prefix_broken = False
        os.makedirs(base_dir, exist_ok=True)

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    def _is_valid(self, name: str) -> bool:
        d = self._stage_dir(name)
        metrics_path = os.path.join(d, METRICS_FILE)
        success = os.path.join(d, "data", "_SUCCESS")
        if not (os.path.exists(metrics_path) and os.path.exists(success)):
            return False
        try:
            with open(metrics_path) as f:
                meta = json.load(f)
        except (OSError, json.JSONDecodeError):
            return False
        return (
            meta.get("layout_version") == LAYOUT_VERSION
            and meta.get("config_hash") == self.config_hash
        )

    def run(self, name: str, build, extra_metrics: dict | None = None) -> DataFrame:
        """Run stage *name* (or reuse its checkpoint).

        *build* is a zero-arg callable returning the stage DataFrame.
        Longest-valid-prefix rule: once any stage in sequence is invalid,
        all later stages recompute even if their checkpoints exist
        (a stale suffix must never survive an upstream change).
        """
        d = self._stage_dir(name)
        data_dir = os.path.join(d, "data")
        if self.resume and not self._prefix_broken and self._is_valid(name):
            with open(os.path.join(d, METRICS_FILE)) as f:
                meta = json.load(f)
            self.results.append(
                StageResult(name, data_dir, meta.get("rows_out", -1), 0.0, True)
            )
            return self.spark.read.parquet(data_dir)

        self._prefix_broken = True
        t0 = time.monotonic()
        df = build()
        # the row count rides on the write (observe), and the per-file
        # rows come from the written parquet footers: no job beyond the
        # write's own, and the two counts cross-check the write
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(data_dir)
        part_counts = _part_file_rows(self.spark, data_dir)
        rows = int(obs.get["rows"])
        if rows != sum(part_counts.values()):
            raise RuntimeError(
                f"stage {name}: the write counted {rows} rows but its part "
                f"files hold {sum(part_counts.values())}"
            )
        # the known schema skips parquet schema inference, itself a job
        out = self.spark.read.schema(df.schema).parquet(data_dir)
        wall = time.monotonic() - t0
        counts = sorted(part_counts.values())
        lineage = {
            "n_partitions": len(part_counts),
            "rows_min": counts[0] if counts else 0,
            "rows_max": counts[-1] if counts else 0,
            "skew": round(counts[-1] * len(counts) / max(1, rows), 3)
            if counts
            else 0.0,
        }
        if len(part_counts) <= 512:
            lineage["partition_rows"] = part_counts
        meta = {
            "stage": name,
            "layout_version": LAYOUT_VERSION,
            "config_hash": self.config_hash,
            "rows_out": rows,
            "wall_s": round(wall, 3),
            "partitions": out.rdd.getNumPartitions(),
            "partition_lineage": lineage,
            "ts": time.time(),
        }
        meta.update(extra_metrics or {})
        tmp = os.path.join(d, METRICS_FILE + ".tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=2)
        os.replace(tmp, os.path.join(d, METRICS_FILE))  # atomic finalize
        self.results.append(StageResult(name, data_dir, rows, wall, False))
        return out

    def summary(self) -> dict:
        return {
            r.name: {"rows": r.rows, "wall_s": round(r.wall_s, 3), "reused": r.reused}
            for r in self.results
        }
