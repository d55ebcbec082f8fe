"""Staged pipeline: the stage graph of :mod:`photo_dedup_spark.pipeline`
materialized as parquet checkpoints, with per-stage metrics and
longest-valid-prefix resume (north rule: "resumable from checkpoint
with per-partition lineage + metrics").

Stage layout under ``work_dir`` (one dir per stage, each with
``data/`` parquet + ``_metrics.json``):

  s0_ingest → s1_keys → s2_signatures → s3_candidates → s4_edges
  → s5_complabels → s6_assignments

The reference analog is the transaction-log state machine + the
incomplete-log guard (the reference's cleaner.py:313, 694-705): a rerun
never silently overwrites a half-written stage and never reuses a
checkpoint written under a different config.

This module owns no transformation: it runs the hybrid graph with
``StageRunner.run`` as the materialization policy, so its assignments
equal :func:`photo_dedup_spark.pipeline.run_pipeline`'s hybrid output
by construction.  Every Spark job a stage needs runs inside that
stage's build, so a reused stage runs none.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from photo_dedup_spark.config import DEFAULT_CONFIG, DedupConfig
from photo_dedup_spark.pipeline import compose
from photo_dedup_spark.plans.checkpoint import StageRunner


def run_staged_pipeline(
    spark: SparkSession,
    files: DataFrame,
    work_dir: str,
    cfg: DedupConfig = DEFAULT_CONFIG,
    resume: bool = True,
) -> tuple[DataFrame, StageRunner]:
    """Returns (assignments, runner); runner.summary() has per-stage
    rows/wall/reused telemetry."""
    runner = StageRunner(spark, work_dir, cfg.config_hash(), resume=resume)
    result = compose(
        spark, files, cfg, runner.run, mode="hybrid", collect_metrics=False
    )
    return result.assignments, runner
