"""End-to-end pipeline semantics on the synthetic corpus.

Transplants the reference's scanner behavior tests
(/root/reference/tests/test_core.py:1557-1951): exact mode misses
near-dups, hybrid finds them, merge-via-rep, deterministic tie-break,
degenerate inputs.
"""

import pytest
from pyspark.sql import functions as F

from photo_dedup_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def hybrid_result(spark, files_df, cfg):
    return run_pipeline(spark, files_df, cfg, mode="hybrid")


@pytest.fixture(scope="module")
def hybrid_assign(hybrid_result):
    rows = hybrid_result.assignments.select(
        "repo", "path", "cluster_id", "is_keep", "n_chars"
    ).collect()
    return {(r.repo, r.path): r for r in rows}


class TestParamValidation:
    """Stage-0 parameter checks (scanner.py:849-867; reference rejects
    bad image_match values and negative thresholds,
    test_core.py:1937-1951)."""

    def test_invalid_mode_rejected(self, spark, files_df, cfg):
        with pytest.raises(ValueError, match="invalid mode"):
            run_pipeline(spark, files_df, cfg, mode="fuzzy")

    def test_negative_thresholds_rejected(self):
        from photo_dedup_spark.config import DedupConfig

        with pytest.raises(ValueError, match="hamming_threshold"):
            DedupConfig(hamming_threshold=-1)
        with pytest.raises(ValueError, match="jaccard_threshold"):
            DedupConfig(jaccard_threshold=1.5)
        with pytest.raises(ValueError, match="containment_threshold"):
            DedupConfig(containment_threshold=0.0)

    def test_similar_mode_runs_near_dup_path(self, spark, cfg):
        # 'similar' detects cross-variant groups exact mode misses
        base = "".join(
            f"def fn_{i}(arg_{i}):\n    return arg_{i} * {i} + offset_{i}\n"
            for i in range(60)
        )
        rows = [
            ("r", "a.py", "c1", "py", base),
            ("r", "b.py", "c2", "py", base + "# appended note\n"),
        ]
        df = spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, content string"
        )
        res = run_pipeline(spark, df, cfg, mode="similar", collect_metrics=False)
        assert res.assignments.select("cluster_id").distinct().count() == 1


class TestKeyDispatch:
    """H4 compute_hash dispatch (hasher.py:157-172): only
    normalize_langs rows key on normalized content."""

    def test_dispatch_splits_by_lang(self, spark):
        from photo_dedup_spark.config import DedupConfig

        cfg = DedupConfig(normalize_langs=("py",))
        rows = [
            # py: normalized-equal pair merges
            ("r", "a.py", "c1", "py", "x = 1\n"),
            ("r", "b.py", "c2", "py", "x = 1  \r\n"),
            # bin: same normalized-equal pair stays apart (raw keying)
            ("r", "a.bin", "c3", "bin", "x = 1\n"),
            ("r", "b.bin", "c4", "bin", "x = 1  \r\n"),
        ]
        df = spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, content string"
        )
        res = run_pipeline(spark, df, cfg, mode="exact", collect_metrics=False)
        got = {r.path: r.cluster_id for r in res.assignments.collect()}
        assert got["a.py"] == got["b.py"]
        assert got["a.bin"] != got["b.bin"]


class TestExactMode:
    """mode='exact' reproduces --no-pixel (scanner.py:861-867)."""

    def test_exact_copies_cluster(self, spark, files_df, cfg):
        res = run_pipeline(spark, files_df, cfg, mode="exact")
        a = res.assignments
        # every exact/normalized pair of identical normalized content
        # shares a cluster: cluster count == distinct norm keys
        from photo_dedup_spark.functions.keys import norm_key_col

        n_norm = (
            files_df.where(F.col("content").isNotNull())
            .select(norm_key_col(F.col("content")).alias("k"))
            .distinct()
            .count()
        )
        assert a.select("cluster_id").distinct().count() == n_norm

    def test_near_dups_not_merged_in_exact_mode(self, spark, files_df, cfg):
        # analog of test_core.py:1859-1882 (exact mode misses cross-res)
        res = run_pipeline(spark, files_df, cfg, mode="exact")
        rows = res.assignments.where(
            F.col("repo").isin("merge/hi", "merge/lo")
        ).select("cluster_id").distinct()
        assert rows.count() == 2


class TestHybridMode:
    def test_null_content_dropped_and_counted(self, hybrid_result, corpus_rows):
        n_null = sum(1 for r in corpus_rows if r.content is None)
        assert n_null >= 1
        assert hybrid_result.metrics["null_content_dropped"] == n_null

    def test_exact_copies_cluster(self, hybrid_assign, corpus_rows):
        by_cluster = {}
        for r in corpus_rows:
            if r.dup_kind in ("exact", "normalized") and r.content is not None:
                by_cluster.setdefault(r.expected_cluster, []).append((r.repo, r.path))
        checked = 0
        for cl, keys in by_cluster.items():
            src = [
                (r.repo, r.path)
                for r in corpus_rows
                if r.expected_cluster == cl and r.dup_kind == "unique"
            ]
            got = {hybrid_assign[k].cluster_id for k in keys + src if k in hybrid_assign}
            assert len(got) == 1, f"exact cluster {cl} split: {keys}"
            checked += 1
        assert checked > 5

    def test_merge_via_rep_quartet_single_cluster(self, hybrid_assign):
        # test_core.py:1884-1912: two exact groups + near link = 1 cluster
        quartet = [
            ("merge/hi", "lib/big.java"),
            ("merge/hi2", "lib/big_copy.java"),
            ("merge/lo", "lib/big_v2.java"),
            ("merge/lo2", "lib/big_v2_copy.java"),
        ]
        got = {hybrid_assign[k].cluster_id for k in quartet}
        assert len(got) == 1

    def test_chain_splits_at_c(self, hybrid_assign):
        # A≈B, B≈C, A≉C: one CC component, but the representative-verify
        # split separates C — C fails verification against the subgroup
        # rep A (reference scanner.py:382-395, pinned by
        # test_core.py:1769-1818 "CC-then-RMS-split")
        a = hybrid_assign[("chain/x", "a.py")].cluster_id
        b = hybrid_assign[("chain/x", "b.py")].cluster_id
        c = hybrid_assign[("chain/x", "c.py")].cluster_id
        assert a == b, "A≈B must share a subgroup"
        assert c != a, "C must split from the A-led subgroup"

    def test_oversize_rows_cluster_by_exact_only(self, hybrid_assign):
        # degrade-don't-drop: identical oversize rows still pair via sha
        a = hybrid_assign[("edge/big", "huge1.txt")]
        b = hybrid_assign[("edge/big", "huge2.txt")]
        assert a.cluster_id == b.cluster_id

    def test_keep_selection_deterministic(self, hybrid_assign):
        # exactly one keep per cluster; keep has max size (min path tiebreak)
        clusters = {}
        for k, r in hybrid_assign.items():
            clusters.setdefault(r.cluster_id, []).append(r)
        for cl, rows in clusters.items():
            keeps = [r for r in rows if r.is_keep]
            assert len(keeps) == 1
            assert keeps[0].n_chars == max(r.n_chars for r in rows)

    def test_negative_near_misses_not_merged(self, hybrid_assign, corpus_rows):
        # different-content rows stay apart (test_core.py:1730-1742)
        label_of = {
            (r.repo, r.path): r.expected_cluster
            for r in corpus_rows
            if r.content is not None
        }
        miss_rows = [k for k, r in label_of.items() if k[0].startswith("miss/")]
        assert miss_rows
        for k in miss_rows:
            base_cluster = label_of[k]
            same = [kk for kk, lbl in label_of.items() if lbl == base_cluster]
            got = {hybrid_assign[kk].cluster_id for kk in same if kk in hybrid_assign}
            # a negative near-miss has its own expected cluster: alone
            assert len(same) == 1 and len(got) == 1

    def test_skew_salting_exercised(self, hybrid_result):
        routes = hybrid_result.metrics["lsh_bucket_routes"]
        assert routes.get("salted", 0) > 0, f"salting not exercised: {routes}"

    def test_verify_failures_counted_zero_on_clean_corpus(self, hybrid_result):
        assert hybrid_result.metrics["verify_failures"] == 0

    def test_determinism_two_runs(self, spark, files_df, cfg, hybrid_assign):
        res2 = run_pipeline(spark, files_df, cfg, mode="hybrid")
        rows2 = {
            (r.repo, r.path): (r.cluster_id, r.is_keep)
            for r in res2.assignments.select(
                "repo", "path", "cluster_id", "is_keep"
            ).collect()
        }
        rows1 = {k: (v.cluster_id, v.is_keep) for k, v in hybrid_assign.items()}
        assert rows1 == rows2


class TestMaterializedAssignments:
    """The in-memory policy checkpoints s6, so every consumer of
    ``PipelineResult.assignments`` (report, move plan, collect) reads one
    materialized table instead of replaying keys → reps → join → keep
    window.  Plan shape only; no timing."""

    @pytest.mark.parametrize("mode", ["exact", "hybrid"])
    def test_assignments_plan_reads_the_checkpoint(
        self, spark, files_df, cfg, hybrid_result, mode
    ):
        res = (
            hybrid_result
            if mode == "hybrid"
            else run_pipeline(spark, files_df, cfg, mode="exact")
        )
        plan = res.assignments._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan and "Exchange" not in plan, plan
        # one keep per cluster: the metric read from s6's keeps
        keeps = res.assignments.where("is_keep").count()
        assert res.metrics["clusters"] == keeps
        assert keeps == res.assignments.select("cluster_id").distinct().count()
