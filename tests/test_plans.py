"""Physical-plan shape assertions: column pruning, filter pushdown,
broadcast joins — the scan-level properties that matter at 100 TB
(SURVEY.md §4.2: never read `content` in stages that don't need it)."""

import re

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name):
    """The plan that runs: AQE re-plans at execution (join and exchange
    choices, whole-stage-codegen ``*(n)`` numbering), so collect the
    query first and read the final plan, above ``== Initial Plan ==``."""
    df = entry_mod.queries()[name](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


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

    def test_sequence_plan_no_single_partition_window(self, spark):
        # an unpartitioned window (or global sort) funnels every row
        # through one task, and Spark plans it as ``Exchange
        # SinglePartition``; action_plan's global seq comes from the
        # two-level bucket rank (operators/plan.py sequence_plan)
        plan = _plan(spark, "action_plan")
        assert "Exchange SinglePartition" not in plan

    def test_normalized_keys_whole_stage_codegen(self, spark):
        # the s1 keys stage's norm_key_col/exact_key_col built-ins must
        # stay JVM-side: '*(n)' prefixes mark whole-stage-codegen'd
        # operators, and no Python evaluator (BatchEvalPython /
        # ArrowEvalPython) may appear.  The query's round-robin widen
        # puts it under AQE, which numbers codegen stages only in the
        # final plan, so run it first.
        df = entry_mod.queries()["normalized_keys"](spark, SF_DIR)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "*(1)" in final
        assert re.search(r"\*\(\d+\) Project \[doc_id#\d+L, sha2\(", final)
        assert "EvalPython" not in plan
