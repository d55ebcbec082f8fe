"""The benchmark workloads: one untraced form that calls the program's
entry points, and one traced form composed from each layer's public
function with the arguments the entry point passes.

The traced forms mirror ``pipeline.run_pipeline`` (exact mode) and
``staged.run_staged_pipeline``.  Every sample's assignment fingerprint
must equal the untraced one, so a traced composition that drifts from
the entry point it mirrors fails the output check instead of silently
measuring something else.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable
from contextlib import nullcontext
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from perfbench.check import check_report_plan, fingerprint
from perfbench.corpus import Truth
from perfbench.trace import Tracer
from photo_dedup_spark import pipeline
from photo_dedup_spark.config import DEFAULT_CONFIG, DedupConfig
from photo_dedup_spark.functions.keys import exact_key_col, norm_key_col
from photo_dedup_spark.functions.normalize import normalize_col
from photo_dedup_spark.functions.signatures import make_signature_struct_udf
from photo_dedup_spark.operators import lsh
from photo_dedup_spark.operators.components import connected_components
from photo_dedup_spark.operators.groups import (
    build_report_groups,
    keep_selection,
    summary_aggregates,
)
from photo_dedup_spark.operators.plan import move_plan, sequence_plan
from photo_dedup_spark.operators.repsplit import (
    oversized_component_count,
    rep_verify_split,
)
from photo_dedup_spark.operators.verify import verify_pairs
from photo_dedup_spark.plans.checkpoint import StageRunner
from photo_dedup_spark.sources.report import write_report
from photo_dedup_spark.staged import run_staged_pipeline

# the configuration a 10^12-file corpus takes: every rep graph goes
# through the distributed star-contraction loop, not driver union-find
CHAIN_CFG = DedupConfig(cc_driver_max_edges=0)
STAGES = (
    "s0_ingest",
    "s1_keys",
    "s2_signatures",
    "s3_candidates",
    "s4_edges",
    "s5_complabels",
    "s6_assignments",
)
ASSIGN_COLS = ["doc_id", "repo", "path", "cluster_id", "is_keep"]


@dataclass
class Ctx:
    spark: SparkSession
    corpus: str  # parquet path — all the program receives
    truth: Truth
    out_dir: str

    def fresh(self, name: str) -> str:
        path = os.path.join(self.out_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def files(self) -> DataFrame:
        return self.spark.read.parquet(self.corpus)


@dataclass
class Sample:
    wall_s: float
    assign: pd.DataFrame
    stored_bytes: int
    errors: list[str] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)  # work counts


def _collect(df: DataFrame) -> pd.DataFrame:
    return df.select(*ASSIGN_COLS).toPandas()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _json_rows(path: str) -> int:
    n = 0
    for name in os.listdir(path):
        if name.endswith(".json"):
            with open(os.path.join(path, name), "rb") as f:
                n += sum(1 for _ in f)
    return n


# --- exact_report: exact mode → report + move plan (the --no-pixel scan)


def _report_and_plan(selected: DataFrame, out: str, source: str, span) -> tuple[dict, dict]:
    """Writes the JSON report and the sequenced move plan; returns the
    report summary and the report/plan counts."""
    # report paths are repo-qualified, as scan.scan writes them
    view = selected.withColumn("path", F.concat_ws("/", "repo", "path"))
    report_dir, plan_dir = os.path.join(out, "report"), os.path.join(out, "plan")
    with span("report"):
        doc = write_report(
            build_report_groups(view),
            summary_aggregates(view),
            report_dir,
            DEFAULT_CONFIG,
            source=source,
        )
    with span("plan"):
        sequence_plan(move_plan(view)).write.json(plan_dir)
    counts = {"plan.actions": _json_rows(plan_dir), "report.bytes": dir_bytes(report_dir)}
    return doc["summary"], counts


def _exact_sample(wall: float, assign: pd.DataFrame, out: str, summary: dict, counts: dict) -> Sample:
    errors = check_report_plan(assign, summary, counts["plan.actions"])
    return Sample(wall, assign, dir_bytes(out), errors, counts)


def exact_report(ctx: Ctx) -> Sample:
    out = ctx.fresh("exact")
    files = ctx.files()
    t0 = time.monotonic()
    selected = pipeline.run_pipeline(
        ctx.spark, files, DEFAULT_CONFIG, mode="exact", collect_metrics=False
    ).assignments
    summary, counts = _report_and_plan(selected, out, ctx.corpus, lambda _: nullcontext())
    assign = _collect(selected)
    return _exact_sample(time.monotonic() - t0, assign, out, summary, counts)


def exact_report_traced(ctx: Ctx, tr: Tracer) -> Sample:
    """run_pipeline(mode='exact') stage by stage (pipeline.py stages 0,
    1 and 6), each layer's output materialized at its boundary."""
    spark, cfg = ctx.spark, DEFAULT_CONFIG
    out = ctx.fresh("exact")
    files = ctx.files()
    t0 = time.monotonic()
    with tr.span("ingest"):
        docs, _ = pipeline.ingest(files, cfg, False)
        in_bytes = pipeline._input_bytes(files)
        if in_bytes is not None and in_bytes <= cfg.widen_small_scan_bytes:
            docs = docs.repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
        docs = docs.localCheckpoint(eager=True)
    with tr.span("keys"):
        keyed_lite = docs.select(
            "doc_id", "repo", "path", "lang", "n_chars",
            norm_key_col(F.col("content")).alias("norm_key"),
        ).localCheckpoint(eager=True)
        reps_lite = keyed_lite.groupBy("norm_key").agg(
            F.min(F.struct("repo", "path", "doc_id", "n_chars")).alias("m")
        ).select("norm_key", F.col("m.doc_id").alias("rep_id"))
        if in_bytes is not None and in_bytes <= cfg.broadcast_reps_max_input_bytes:
            reps_lite = F.broadcast(reps_lite)
        member_base = keyed_lite.join(reps_lite, "norm_key").localCheckpoint(eager=True)
    with tr.span("groups"):
        members = member_base.withColumn("cluster_id", F.col("rep_id")).select(
            "doc_id", "repo", "path", "lang", "n_chars", "cluster_id"
        )
        selected = keep_selection(members).localCheckpoint(eager=True)
    summary, counts = _report_and_plan(selected, out, ctx.corpus, tr.span)
    assign = _collect(selected)
    sample = _exact_sample(time.monotonic() - t0, assign, out, summary, counts)
    sample.counts.update(
        {
            "keys.rows": keyed_lite.count(),
            "keys.distinct_keys": keyed_lite.select("norm_key").distinct().count(),
            "groups.clusters": assign["cluster_id"].nunique(),
        }
    )
    return sample


# --- chain_staged: parquet stage checkpoints + distributed CC, then resume


def _resume(ctx: Ctx, work: str, fresh: pd.DataFrame) -> tuple[Sample, int]:
    t0 = time.monotonic()
    again, runner = run_staged_pipeline(ctx.spark, ctx.files(), work, CHAIN_CFG)
    resumed = _collect(again)
    wall = time.monotonic() - t0
    reused = sum(r["reused"] for r in runner.summary().values())
    errors = []
    if reused != len(STAGES):
        errors.append(f"resume reused {reused} of {len(STAGES)} stages")
    if fingerprint(resumed) != fingerprint(fresh):
        errors.append("resumed assignments differ from the fresh run")
    return Sample(wall, resumed, dir_bytes(work), errors), reused


def chain_staged(ctx: Ctx) -> Sample:
    work = ctx.fresh("stages")
    files = ctx.files()
    t0 = time.monotonic()
    assignments, _ = run_staged_pipeline(ctx.spark, files, work, CHAIN_CFG)
    assign = _collect(assignments)
    wall = time.monotonic() - t0
    resumed, _ = _resume(ctx, work, assign)
    s = Sample(wall, assign, dir_bytes(work), resumed.errors)
    s.counts["resume_s"] = resumed.wall_s
    return s


def chain_staged_traced(ctx: Ctx, tr: Tracer) -> Sample:
    """run_staged_pipeline stage by stage; each StageRunner stage write
    is its layer's materialization, and the resume is the checkpoint
    layer's own work."""
    spark, cfg = ctx.spark, CHAIN_CFG
    work = ctx.fresh("stages")
    files = ctx.files()
    kept: dict = {}
    t0 = time.monotonic()
    runner = StageRunner(spark, work, cfg.config_hash(), resume=True)
    with tr.span("ingest"):
        docs_df = runner.run("s0_ingest", lambda: pipeline.ingest(files, cfg, False)[0])
    with tr.span("keys"):
        keyed = runner.run(
            "s1_keys",
            lambda: docs_df.select(
                "doc_id", "repo", "path", "lang", "n_chars", "content",
                exact_key_col(F.col("content")).alias("exact_key"),
                norm_key_col(F.col("content")).alias("norm_key"),
            ).withColumn(
                "rep_id",
                F.min(F.struct("repo", "path", "doc_id"))
                .over(Window.partitionBy("norm_key"))
                .getField("doc_id"),
            ),
        )

    def _signatures() -> DataFrame:
        reps = keyed.where(F.col("doc_id") == F.col("rep_id")).where(
            F.col("n_chars") <= cfg.content_cap_chars
        )
        sign_udf = make_signature_struct_udf(cfg)
        return (
            reps.select(
                "doc_id", "repo", "path",
                normalize_col(F.col("content")).alias("norm_content"),
            )
            .withColumn("sig", sign_udf(F.col("norm_content")))
            .select(
                "doc_id", "repo", "path",
                F.col("sig.simhash").alias("simhash"),
                F.col("sig.band_hashes").alias("band_hashes"),
                F.col("sig.sketch").alias("sketch"),
                F.col("sig.sketch_b").alias("sketch_b"),
            )
        )

    with tr.span("signatures"):
        signed = runner.run("s2_signatures", _signatures)

    def _candidates() -> DataFrame:
        kept["banded"] = lsh.explode_bands(signed, cfg).unionByName(
            lsh.explode_simhash_chunks(signed, cfg)
        )
        shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        pairs, kept["routes"] = lsh.candidate_pairs(
            kept["banded"], cfg, num_partitions=shuffle_n
        )
        return pairs

    with tr.span("lsh"):
        pairs = runner.run("s3_candidates", _candidates)
    with tr.span("verify"):
        edges = runner.run(
            "s4_edges",
            lambda: verify_pairs(pairs, signed, cfg)
            .where(F.col("is_edge"))
            .select("src", "dst"),
        )

    def _labels() -> DataFrame:
        kept["nodes"] = (
            edges.select(F.col("src").alias("doc_id"))
            .unionByName(edges.select(F.col("dst").alias("doc_id")))
            .distinct()
        )
        with tr.span("components"):
            comp_labels, kept["cc"] = connected_components(kept["nodes"], edges, cfg)
            kept["comp_labels"] = comp_labels = comp_labels.localCheckpoint(eager=True)
        kept["splits"] = splits = rep_verify_split(comp_labels, signed, cfg)
        return (
            keyed.select("doc_id", "rep_id")
            .join(
                splits.select(
                    F.col("doc_id").alias("rep_id"),
                    F.col("cluster_id").alias("sub_label"),
                ),
                "rep_id",
                "left",
            )
            .select(
                "doc_id",
                F.coalesce(F.col("sub_label"), F.col("rep_id")).alias("cluster_id"),
            )
        )

    with tr.span("repsplit"):
        labels = runner.run("s5_complabels", _labels)
    with tr.span("groups"):
        assignments = runner.run(
            "s6_assignments",
            lambda: keep_selection(
                keyed.select("doc_id", "repo", "path", "lang", "n_chars").join(
                    labels, "doc_id"
                )
            ),
        )
        assign = _collect(assignments)
    wall = time.monotonic() - t0
    with tr.span("checkpoint"):
        resumed, reused = _resume(ctx, work, assign)

    stages = runner.summary()
    routes = {
        r["route"]: r["n"]
        for r in kept["routes"].groupBy("route").agg(F.count("*").alias("n")).collect()
    }
    n_pairs, n_edges = stages["s3_candidates"]["rows"], stages["s4_edges"]["rows"]
    counts = {
        "keys.rows": stages["s1_keys"]["rows"],
        "keys.distinct_keys": keyed.select("norm_key").distinct().count(),
        "signatures.docs": stages["s2_signatures"]["rows"],
        "lsh.banded_rows": kept["banded"].count(),
        "lsh.buckets.plain": routes.get("plain", 0),
        "lsh.buckets.salted": routes.get("salted", 0),
        "lsh.buckets.overflow": routes.get("overflow", 0),
        "lsh.candidate_pairs": n_pairs,
        "verify.edges": n_edges,
        "verify.edge_yield": n_edges / n_pairs if n_pairs else 0.0,
        "components.distributed": int(kept["cc"]["cc_mode"] == "distributed"),
        "components.iterations": kept["cc"]["cc_iterations"],
        "components.nodes": kept["nodes"].count(),
        "repsplit.subgroups": kept["splits"].select("cluster_id").distinct().count(),
        "repsplit.oversized": oversized_component_count(kept["comp_labels"], cfg),
        "groups.clusters": assign["cluster_id"].nunique(),
        "checkpoint.reused_stages": reused,
    }
    for st in STAGES:
        counts[f"checkpoint.{st}.s"] = stages[st]["wall_s"]
        counts[f"checkpoint.{st}.bytes"] = dir_bytes(os.path.join(work, st))
    s = Sample(wall, assign, dir_bytes(work), resumed.errors)
    s.counts = counts
    return s


@dataclass(frozen=True)
class Workload:
    name: str
    n_bases: int
    chain_every: int
    near_expected: bool  # near variants must cluster with their base
    run: Callable[[Ctx], Sample]
    traced: Callable[[Ctx, Tracer], Sample]


WORKLOADS = {
    w.name: w
    for w in (
        Workload("exact_report", 3000, 0, False, exact_report, exact_report_traced),
        Workload("chain_staged", 500, 16, True, chain_staged, chain_staged_traced),
    )
}
