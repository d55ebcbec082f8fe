"""Recall gate: pipeline dup-pairs vs the sequential reference oracle.

BASELINE.md: dup-pair recall ≥ 0.99 at the frozen config, plus the
per-row sha256(content) invariant (BASELINE.json input_hint).
"""

import pytest
from pyspark.sql import functions as F

from photo_dedup_spark.corpus import corpus_to_tuples
from photo_dedup_spark.pipeline import run_pipeline
from sequential_oracle import cluster_oracle


@pytest.fixture(scope="module")
def oracle_result(corpus_rows, cfg):
    rows = [((r.repo, r.path), r.content) for r in corpus_rows]
    return cluster_oracle(rows, cfg)


@pytest.fixture(scope="module")
def pipeline_pairs(spark, files_df, cfg):
    res = run_pipeline(spark, files_df, cfg, mode="hybrid")
    assign = res.assignments.select("repo", "path", "cluster_id").collect()
    by_cluster = {}
    for r in assign:
        by_cluster.setdefault(r.cluster_id, []).append((r.repo, r.path))
    pairs = set()
    for members in by_cluster.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                pairs.add(frozenset((members[i], members[j])))
    return pairs


class TestRecall:
    def test_oracle_sane(self, oracle_result, corpus_rows):
        # oracle must reproduce the planted exact structure
        label_of = {}
        for r in corpus_rows:
            if r.content is None:
                continue
            label_of.setdefault(r.expected_cluster, []).append((r.repo, r.path))
        exact_groups = 0
        for cl, keys in label_of.items():
            kinds = {
                rr.dup_kind
                for rr in corpus_rows
                if rr.expected_cluster == cl and rr.content is not None
            }
            if kinds <= {"unique", "exact", "normalized"} and len(keys) > 1:
                got = {oracle_result.cluster_of[k] for k in keys}
                assert len(got) == 1, f"oracle split exact cluster {cl}"
                exact_groups += 1
        assert exact_groups > 3
        assert oracle_result.n_dropped_null >= 1

    def test_dup_pair_recall_ge_099(self, oracle_result, pipeline_pairs):
        oracle_pairs = oracle_result.dup_pairs
        assert len(oracle_pairs) > 100, "fixture too weak to gate recall"
        hit = len(oracle_pairs & pipeline_pairs)
        recall = hit / len(oracle_pairs)
        missed = list(oracle_pairs - pipeline_pairs)[:5]
        assert recall >= 0.99, f"recall {recall:.4f}; sample missed: {missed}"

    def test_precision_ge_099(self, oracle_result, pipeline_pairs):
        # with the distributed representative-verify split
        # (operators/repsplit.py) the pipeline reproduces the oracle's
        # subgroup semantics — precision is a real gate, not a floor
        if not pipeline_pairs:
            pytest.skip("no pipeline pairs")
        extra = list(pipeline_pairs - oracle_result.dup_pairs)[:5]
        prec = len(oracle_result.dup_pairs & pipeline_pairs) / len(pipeline_pairs)
        assert prec >= 0.99, f"precision {prec:.4f}; sample extras: {extra}"


class TestSha256Invariant:
    def test_per_row_sha_matches_python(self, spark, files_df, corpus_rows):
        from photo_dedup_spark.functions.keys import exact_key_col

        got = {
            (r.repo, r.path): r.k
            for r in files_df.where(F.col("content").isNotNull())
            .select("repo", "path", exact_key_col(F.col("content")).alias("k"))
            .collect()
        }
        _, expected = corpus_to_tuples(corpus_rows)
        checked = 0
        for repo, path, _, sha, _, _ in expected:
            if sha is None:
                continue
            assert got[(repo, path)] == sha
            checked += 1
        assert checked == len(got)
