"""Checkpoint/resume stage framework with per-stage lineage metrics.

The reference's durability story is a transaction log with a status
state machine (``in_progress → moves_complete → complete → undone``,
/root/reference/photo_dedup/cleaner.py:313,794,1102,1254), fsync
batching (cleaner.py:53,324-335), and a guard that refuses to operate
over an incomplete log (cleaner.py:694-705).

Our analog, scaled to a staged Spark job: every stage writes parquet +
``_metrics.json`` (rows out, wall-time, config-hash, and PER-PARTITION
row counts with a skew ratio — the north rule's "per-partition lineage
+ metrics"); a stage is valid iff parquet ``_SUCCESS`` exists, metrics
parse, and both the layout version and the config hash match.  A rerun
resumes after the longest valid prefix — never silently over a
half-written checkpoint.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

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


class StageRunner:
    """Runs named stages with checkpoint + resume semantics."""

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
        df.write.mode("overwrite").parquet(data_dir)
        out = self.spark.read.parquet(data_dir)
        # per-PARTITION lineage in one job (the row count is its sum):
        # partition row counts make skew visible per stage and give the
        # resume path a finer-grained integrity record than a bare total
        from pyspark.sql import functions as F

        part_counts = {
            int(r["pid"]): int(r["count"])
            for r in out.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .collect()
        }
        rows = sum(part_counts.values())
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
