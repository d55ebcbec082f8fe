"""Physical-plan shape assertions: column pruning, filter pushdown,
broadcast joins — the scan-level properties that matter at 100 TB
(SURVEY.md §4.2: never read `content` in stages that don't need it)."""

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = entry_mod.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


class TestPlanShape:
    def test_exact_dup_groups_prunes_and_pushes(self, spark):
        plan = _plan(spark, "exact_dup_groups")
        scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln][0]
        # null filter pushed to the scan; unused columns not read
        assert "isnotnull(text" in scan
        assert "lang" not in scan and "source" not in scan

    def test_size_blocking_broadcasts_hot_keys(self, spark):
        plan = _plan(spark, "size_blocking")
        assert "BroadcastHashJoin" in plan
        assert "LeftSemi" in plan

    def test_keep_selection_reads_no_unused_columns(self, spark):
        plan = _plan(spark, "keep_selection")
        scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln][0]
        assert "source" not in scan and "lang" not in scan

    def test_ngram_pairs_no_cartesian(self, spark):
        # the inverted-index gram join must never plan a per-block
        # all-pairs join (VERDICT r1: within-block cartesian = 100 TB
        # scale-killer); sort-merge/hash equi-joins only
        plan = _plan(spark, "ngram_jaccard_pairs")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_sequence_plan_no_single_partition_window(self, spark):
        # an unpartitioned window (or global sort) funnels every row
        # through one task, and Spark plans it as ``Exchange
        # SinglePartition``; action_plan's global seq comes from the
        # two-level bucket rank (operators/plan.py sequence_plan)
        plan = _plan(spark, "action_plan")
        assert "Exchange SinglePartition" not in plan

    @pytest.mark.parametrize("name", ["containment_pairs", "ppjoin_pairs"])
    def test_gram_pairs_no_single_partition_exchange(self, spark, name):
        # the gram-pair queries number their vocabulary per hash bucket
        # (_gram_pair_overlaps), not with one global row_number
        plan = _plan(spark, name)
        assert "Exchange SinglePartition" not in plan

    def test_token_stats_whole_stage_codegen(self, spark):
        plan = _plan(spark, "token_stats")
        # '*(n)' prefixes mark whole-stage-codegen'd operators; no
        # Python evaluator (BatchEvalPython/ArrowEvalPython) may appear
        assert "*(1)" in plan
        assert "EvalPython" not in plan
