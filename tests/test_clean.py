"""clean/undo entry-point flows (reference TestEndToEnd analogs,
/root/reference/tests/test_core.py:341-995): dry-run zero side
effects, report validation ordering, log guards, undo state machine."""

import os

import pytest
from pyspark.sql import functions as F

from photo_dedup_spark.clean import CleanResult, clean, undo
from photo_dedup_spark.operators.groups import (
    build_report_groups,
    keep_selection,
    summary_aggregates,
)
from photo_dedup_spark.sources.eventlog import EventLogError
from photo_dedup_spark.sources.report import InvalidReportError, write_report

MEMBER_SCHEMA = "doc_id long, cluster_id long, path string, n_chars long"


@pytest.fixture()
def report_dir(spark, cfg, tmp_path):
    rows = [
        (1, 1, "d/111.py", 100),
        (2, 1, "x/2021-05-01_trip.py", 90),
        (3, 2, "d/photo (2).txt", 50),
        (4, 2, "d/2020-02-02_event.txt", 40),
        # cluster 3: BOTH names meaningless — Phase B renames the keep
        # to the best (still meaningless) member name, so Phase C must
        # date-rename the POST-Phase-B path
        (5, 3, "d/333.py", 30),
        (6, 3, "d/444.py", 20),
    ]
    sel = keep_selection(spark.createDataFrame(rows, MEMBER_SCHEMA))
    groups = build_report_groups(sel)
    summary = summary_aggregates(sel, total_files=6)
    out = str(tmp_path / "report")
    write_report(groups, summary, out, cfg, source="tableA")
    return out


class TestClean:
    def test_dry_run_zero_side_effects(self, spark, report_dir, tmp_path):
        log_dir = str(tmp_path / "log")
        res = clean(spark, report_dir, log_dir, source="tableA", dry_run=True)
        assert isinstance(res, CleanResult)
        assert res.log_meta is None
        assert not os.path.exists(log_dir)  # nothing written at all
        assert res.summary["actions"].get("move", 0) == 3
        assert res.summary["actions"].get("rename", 0) == 3

    def test_clean_writes_complete_log(self, spark, report_dir, tmp_path):
        log_dir = str(tmp_path / "log")
        res = clean(spark, report_dir, log_dir, source="tableA")
        assert res.log_meta["status"] == "complete"
        plan_rows = res.plan.orderBy("seq").collect()
        # moves strictly precede renames
        actions = [r.action for r in plan_rows]
        assert actions == sorted(actions, key=lambda a: {"move": 0, "rename": 2}[a])

    def test_source_mismatch_rejected_unless_forced(
        self, spark, report_dir, tmp_path
    ):
        with pytest.raises(InvalidReportError):
            clean(spark, report_dir, str(tmp_path / "l1"), source="tableB")
        res = clean(
            spark, report_dir, str(tmp_path / "l2"), source="tableB", force=True
        )
        assert res.log_meta["status"] == "complete"

    def test_refuses_in_progress_log(self, spark, report_dir, tmp_path):
        from photo_dedup_spark.sources.eventlog import write_events

        log_dir = str(tmp_path / "log")
        bad = spark.createDataFrame(
            [(1, "move", "a.py", "b.py", 1)],
            "seq long, action string, src string, dst string, cluster_id long",
        )
        write_events(bad, log_dir, status="in_progress")
        with pytest.raises(EventLogError, match="in_progress"):
            clean(spark, report_dir, log_dir, source="tableA")

    def test_refuses_moves_complete_log(self, spark, report_dir, tmp_path):
        # a run that crashed between set_status('moves_complete') and
        # set_status('complete') still owns a recovery record — the
        # reference refuses ANY status outside (complete, undone)
        # (cleaner.py:694-705), not just in_progress
        from photo_dedup_spark.sources.eventlog import write_events

        log_dir = str(tmp_path / "log")
        bad = spark.createDataFrame(
            [(1, "move", "a.py", "b.py", 1)],
            "seq long, action string, src string, dst string, cluster_id long",
        )
        write_events(bad, log_dir, status="moves_complete")
        with pytest.raises(EventLogError, match="moves_complete"):
            clean(spark, report_dir, log_dir, source="tableA")

    def test_corrupt_log_meta_is_overwritable(self, spark, report_dir, tmp_path):
        # cleaner.py:705: a JSON-corrupt log allows a fresh run
        log_dir = str(tmp_path / "log")
        os.makedirs(log_dir)
        with open(os.path.join(log_dir, "_meta.json"), "w") as f:
            f.write("{not json")
        res = clean(spark, report_dir, log_dir, source="tableA")
        assert res.log_meta["status"] == "complete"

    def test_date_scope_requires_timestamps(self, spark, report_dir, tmp_path):
        with pytest.raises(ValueError, match="timestamps"):
            clean(
                spark,
                report_dir,
                str(tmp_path / "log"),
                date_scope="kept-only",
            )

    def test_phase_c_rows_from_timestamps(self, spark, report_dir, tmp_path):
        ts = spark.createDataFrame(
            [
                ("d/111.py", "2021-01-05 10:00:00"),
                ("x/2021-05-01_trip.py", "2021-01-01 10:00:00"),
                ("d/photo (2).txt", "2020-02-02 09:00:00"),
                ("d/2020-02-02_event.txt", "2020-02-02 09:00:00"),
                ("d/333.py", "2021-03-03 10:00:00"),
                ("d/444.py", "2021-03-01 10:00:00"),
            ],
            "path string, commit_ts string",
        ).withColumn("commit_ts", F.col("commit_ts").cast("timestamp"))
        res = clean(
            spark,
            report_dir,
            str(tmp_path / "log"),
            source="tableA",
            date_scope="kept-only",
            timestamps=ts,
        )
        by_action = {}
        for r in res.plan.collect():
            by_action.setdefault(r.action, []).append(r)
        date_renames = {r.src: r.dst for r in by_action.get("date_rename", [])}
        mtimes = {r.src: r.dst for r in by_action.get("set_mtime", [])}
        # cluster 1: Phase B renames d/111.py → d/2021-05-01_trip.py, so
        # Phase C sees a MEANINGFUL post-rename basename → NO date_rename
        # at all (cleaner.py:893-905 re-keys on the post-rename name);
        # its ts drifts 4 days from group-earliest → set_mtime, addressed
        # at the post-Phase-B path
        assert "d/111.py" not in date_renames
        assert "d/111.py" not in mtimes
        assert "d/2021-05-01_trip.py" in mtimes
        assert mtimes["d/2021-05-01_trip.py"].startswith("2021-01-01")
        # cluster 3: Phase B renames d/333.py → d/444.py (best of two
        # meaningless names); still meaningless → Phase C date-renames
        # the POST-Phase-B path to the group-earliest date, and the
        # set_mtime row tracks through to the post-date-rename path
        assert date_renames == {"d/444.py": "d/20210301.py"}
        assert "d/20210301.py" in mtimes
        assert mtimes["d/20210301.py"].startswith("2021-03-01")
        # no timestamps were missing
        assert res.summary["null_ts_excluded"] == 0

    def test_phase_c_null_ts_counted_not_dropped_silently(
        self, spark, report_dir, tmp_path
    ):
        # timestamps frame missing two member paths: clean() must count
        # the exclusions in the summary (reference metadata.py:96-121
        # falls back per-file with a logged warning — never silent)
        ts = spark.createDataFrame(
            [
                ("d/111.py", "2021-01-05 10:00:00"),
                ("x/2021-05-01_trip.py", "2021-01-01 10:00:00"),
                ("d/photo (2).txt", "2020-02-02 09:00:00"),
                ("d/2020-02-02_event.txt", "2020-02-02 09:00:00"),
            ],
            "path string, commit_ts string",
        ).withColumn("commit_ts", F.col("commit_ts").cast("timestamp"))
        res = clean(
            spark,
            report_dir,
            str(tmp_path / "log"),
            source="tableA",
            date_scope="kept-only",
            timestamps=ts,
            dry_run=True,
        )
        assert res.summary["null_ts_excluded"] == 2
        # the null-ts cluster contributes no Phase C rows
        srcs = {r.src for r in res.plan.collect() if r.action in ("date_rename", "set_mtime")}
        assert not any("333" in s or "444" in s or "2021030" in s for s in srcs)

    def test_plan_reads_one_materialized_table(self, spark, report_dir, tmp_path):
        # the action counts, the event log and the caller read one
        # checkpointed plan, not the report load + phase joins + sequencing
        res = clean(spark, report_dir, str(tmp_path / "log"), source="tableA")
        plan = res.plan._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan and "Exchange" not in plan, plan
        assert res.plan.count() == sum(res.log_meta["counts"].values())


class TestUndoFlow:
    def test_undo_reverses_and_marks_undone(self, spark, report_dir, tmp_path):
        log_dir = str(tmp_path / "log")
        res = clean(spark, report_dir, log_dir, source="tableA")
        inv = undo(spark, log_dir).orderBy("seq").collect()
        fwd = {r.seq: (r.src, r.dst) for r in res.plan.collect()}
        n = len(fwd)
        for r in inv:
            assert (r.dst, r.src) == fwd[n + 1 - r.seq]
        # second undo refuses: state machine is terminal
        with pytest.raises(EventLogError, match="undone"):
            undo(spark, log_dir)
