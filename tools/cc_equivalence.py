#!/usr/bin/env python
"""Bench-scale driver-vs-distributed CC equivalence gate (r4 VERDICT
next-round #1).

Runs the flagship pipeline TWICE on the mega-component bench corpus
(benchcorpus chain planting — one n_bases/chain_every-member drifting
near-dup chain, the north rule's boilerplate case with O(n) candidate
pairs): once on the default hybrid CC (small rep graphs resolve by
driver union-find) and once with
``cc_driver_max_edges=0`` forcing the distributed large-star/small-star
contraction loop — then asserts the final per-document cluster assignments
are BIT-IDENTICAL (a join-based comparison; nothing unbounded is
collected).  Writes BENCH/cc_equivalence.json with both runs' CC
telemetry (mode, rounds, per-round change counts, largest component).

Usage:
    python tools/cc_equivalence.py          # 120k bases, chain_every=8
    SPARK_GRAFT_BENCH_BASES=30000 python tools/cc_equivalence.py
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from photo_dedup_spark.benchcorpus import materialize_bench_corpus
    from photo_dedup_spark.pipeline import run_pipeline
    from photo_dedup_spark.session import build_session
    import __spark_entry__ as entry_mod

    n_bases = int(os.environ.get("SPARK_GRAFT_BENCH_BASES", "120000"))
    chain_every = int(os.environ.get("SPARK_GRAFT_CHAIN_EVERY", "8"))
    corpus_dir = os.environ.get("SPARK_GRAFT_BENCH_DIR", "/tmp/spark_graft_bench")

    spark = build_session(app_name="cc-equivalence")
    spark.sparkContext.setLogLevel("WARN")
    corpus = materialize_bench_corpus(
        spark, n_bases, corpus_dir, chain_every=chain_every
    )
    docs = spark.read.parquet(corpus).count()
    print(f"corpus: {corpus} ({docs} rows)", file=sys.stderr)

    results = {}
    assignments = {}
    for label, cfg in (
        ("driver", entry_mod.ENTRY_CONFIG),
        (
            "distributed",
            dataclasses.replace(entry_mod.ENTRY_CONFIG, cc_driver_max_edges=0),
        ),
    ):
        t0 = time.monotonic()
        res = run_pipeline(
            spark,
            spark.read.parquet(corpus),
            cfg,
            mode="hybrid",
            collect_metrics=True,
        )
        out = res.assignments.select("doc_id", "cluster_id").localCheckpoint()
        n = out.count()
        wall = round(time.monotonic() - t0, 3)
        biggest = (
            out.groupBy("cluster_id")
            .agg(F.count("*").alias("n"))
            .agg(F.max("n").alias("mx"))
            .collect()[0]["mx"]
        )
        assignments[label] = out
        results[label] = {
            "wall_s": wall,
            "rows": n,
            "clusters": res.metrics.get("clusters"),
            "largest_cluster_post_split": int(biggest),
            "cc_mode": res.metrics.get("cc_mode"),
            "cc_iterations": res.metrics.get("cc_iterations"),
            "cc_changed_per_iter": res.metrics.get("cc_changed_per_iter"),
            "verified_edges": res.metrics.get("verified_edges"),
            # the largest PRE-SPLIT component — the planted mega-component
            # (post-split clusters are chain-split by design,
            # scanner.py:382-395); both CC paths report it
            "largest_cc_component": res.metrics.get("cc_max_component"),
        }
        print(f"{label}: {results[label]}", file=sys.stderr)

    a, b = assignments["driver"], assignments["distributed"]
    mismatches = (
        a.alias("a")
        .join(b.alias("b"), "doc_id", "full")
        .where(
            F.col("a.cluster_id").isNull()
            | F.col("b.cluster_id").isNull()
            | (F.col("a.cluster_id") != F.col("b.cluster_id"))
        )
        .count()
    )
    verdict = {
        "corpus": corpus,
        "docs": docs,
        "chain_every": chain_every,
        "label_mismatches": int(mismatches),
        "equivalent": mismatches == 0,
        "runs": results,
    }
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/cc_equivalence.json", "w") as f:
        json.dump(verdict, f, indent=2)
    print(json.dumps({k: verdict[k] for k in ("docs", "label_mismatches", "equivalent")}))
    spark.stop()
    if mismatches:
        print("FAIL: driver and distributed CC labels differ", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
