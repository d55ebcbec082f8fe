"""Clean / undo entry points — the reference's second and third CLI
flows as batch plan jobs (SURVEY.md §3.2-3.3, mirroring
/root/reference/photo_dedup/cleaner.py:538-1259 decision-for-decision;
we compute and log WHAT to do, we never touch a filesystem).

``clean``: load + hard-validate the report (schema, source match,
path safety, cross-group uniqueness — cleaner.py:589-602), build the
phase plans (A moves, B chain-safe renames, C date renames + mtime),
sequence them totally, refuse to run over an in-progress log
(cleaner.py:694-705), and write the event log through the status state
machine (in_progress → moves_complete → complete).  ``dry_run``
computes the FULL plan but writes nothing — zero side effects
(cleaner.py:674-676, pinned by reference test
test_clean_dry_run_no_side_effects).

``undo``: strict-load the event log (type + count + path-safety
validation, S8) and emit the inverse plan in reverse sequence order;
status → undone (cleaner.py:1126-1259).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from photo_dedup_spark.operators.groups import dup_groups_only
from photo_dedup_spark.operators.plan import (
    date_rename_plan,
    move_plan,
    rename_plan,
    sequence_plan,
    undo_plan,
)
from photo_dedup_spark.sources import eventlog
from photo_dedup_spark.sources.report import (
    load_report,
    validate_relative_paths,
    validate_report_paths,
    validate_source_match,
)


@dataclass
class CleanResult:
    plan: DataFrame
    summary: dict
    log_meta: dict | None  # None on dry runs (nothing written)


def _selected_from_groups(groups: DataFrame) -> DataFrame:
    """Report groups back to the flat (cluster_id, path, n_chars,
    is_keep) member table the plan builders consume."""
    keeps = groups.select(
        "cluster_id",
        F.col("keep.path").alias("path"),
        F.col("keep.size").alias("n_chars"),
        F.lit(True).alias("is_keep"),
    )
    deletes = groups.select(
        "cluster_id", F.explode("delete").alias("d")
    ).select(
        "cluster_id",
        F.col("d.path").alias("path"),
        F.col("d.size").alias("n_chars"),
        F.lit(False).alias("is_keep"),
    )
    return keeps.unionByName(deletes)


def _net_renames(plan: DataFrame) -> DataFrame:
    """Net (rsrc → rdst) effect of Phase B: plain renames directly,
    chained renames by composing their stage (src → tmp) and final
    (tmp → dst) hops."""
    renames = plan.where(F.col("action") == "rename").select(
        F.col("src").alias("rsrc"), F.col("dst").alias("rdst")
    )
    stage = plan.where(F.col("action") == "rename_stage").select(
        F.col("src").alias("rsrc"), F.col("dst").alias("tmp")
    )
    final = plan.where(F.col("action") == "rename_final").select(
        F.col("src").alias("tmp"), F.col("dst").alias("rdst")
    )
    return renames.unionByName(stage.join(final, "tmp").select("rsrc", "rdst"))


def clean(
    spark: SparkSession,
    report_dir: str,
    log_dir: str,
    source: str | None = None,
    dry_run: bool = False,
    force: bool = False,
    do_rename: bool = True,  # False = skip Phase B (reference --no-rename)
    date_scope: str | None = None,  # None = no Phase C; 'kept-only' | 'all-files'
    timestamps: DataFrame | None = None,  # (path, commit_ts) for Phase C
    ts_col: str = "commit_ts",
) -> CleanResult:
    """Validate → plan → (unless dry_run) log.  Raises
    InvalidReportError / EventLogError on any integrity violation
    BEFORE anything is written (fail-fast ordering mirrors
    cleaner.py:589-705)."""
    doc, groups = load_report(spark, report_dir)
    if source is not None:
        validate_source_match(doc, source, force=force)
    validate_relative_paths(groups)
    validate_report_paths(groups)

    selected = _selected_from_groups(groups)
    dups = dup_groups_only(selected)
    plan = move_plan(dups)
    if do_rename:
        plan = plan.unionByName(rename_plan(dups))
    null_ts_excluded = None
    if date_scope is not None:
        if timestamps is None:
            raise ValueError(
                f"date_scope={date_scope!r} needs a (path, {ts_col}) timestamps frame"
            )
        # LEFT join: a file missing from the timestamps frame must not
        # vanish silently (the reference falls back per-file to
        # filesystem dates with a logged warning, metadata.py:96-121;
        # we have no filesystem, so null-ts rows are EXCLUDED from
        # Phase C — and from the cluster-earliest min — with a counted
        # summary entry, never an invisible inner-join drop)
        with_ts = selected.join(timestamps.select("path", ts_col), "path", "left")
        tsc = with_ts.agg(
            F.count("*").alias("n"), F.count(ts_col).alias("nts")
        ).collect()[0]
        null_ts_excluded = int(tsc["n"] - tsc["nts"])
        with_ts = with_ts.where(F.col(ts_col).isNotNull())
        # Phase C sees the POST-Phase-B tree (cleaner.py:893-905 re-keys
        # earliest_dates after each rename; 1048-1063 touches post-rename
        # paths): substitute net rename dsts for paths BEFORE evaluating
        # is_meaningless or emitting srcs — a keep renamed in Phase B to
        # a meaningful name gets no date_rename at all
        net = _net_renames(plan)
        post = (
            with_ts.join(net, with_ts.path == net.rsrc, "left")
            .withColumn("path", F.coalesce(F.col("rdst"), F.col("path")))
            .drop("rsrc", "rdst")
        )
        plan = plan.unionByName(date_rename_plan(post, ts_col, date_scope))
    # the action counts, the event-log write and the caller all read the
    # plan: materialize it once instead of replaying the report load,
    # the phase joins and the sequencing for each of them
    plan = sequence_plan(plan).localCheckpoint(eager=False)

    counts = {
        r["action"]: r["n"]
        for r in plan.groupBy("action").agg(F.count("*").alias("n")).collect()
    }
    summary = {"actions": counts, "dry_run": dry_run}
    if null_ts_excluded is not None:
        summary["null_ts_excluded"] = null_ts_excluded

    if dry_run:
        # zero side effects: no log dir, no meta, no events
        return CleanResult(plan=plan, summary=summary, log_meta=None)

    eventlog.guard_not_in_progress(log_dir)
    meta = eventlog.write_events(plan, log_dir, status="in_progress")
    # the plan is fully materialized once written; phases A/B complete
    # by construction of the total seq order, so the state machine can
    # advance (an executor failing mid-phase would resume from the log)
    eventlog.set_status(log_dir, "moves_complete")
    eventlog.set_status(log_dir, "complete")
    meta["status"] = "complete"
    return CleanResult(plan=plan, summary=summary, log_meta=meta)


def undo(spark: SparkSession, log_dir: str) -> DataFrame:
    """Inverse plan from the validated event log, reverse seq order;
    advances the log to ``undone`` (cleaner.py:1126-1259)."""
    meta, events = eventlog.load_events(spark, log_dir)
    if meta["status"] == "undone":
        raise eventlog.EventLogError("log already undone")
    inverse = undo_plan(events)
    eventlog.set_status(log_dir, "undone")
    return inverse


# ---------------------------------------------------------------------------
# CLI — mirrors /root/reference/clean.py:36-133 flag for flag
# ---------------------------------------------------------------------------

def build_parser():
    import argparse

    parser = argparse.ArgumentParser(
        prog="photo_dedup_spark.clean",
        description="Plan and log the safe removal of duplicate files",
    )
    parser.add_argument(
        "--dir",
        "-d",
        required=True,
        help="source table the report was scanned from (parquet path or identifier)",
    )
    parser.add_argument(
        "--report",
        "-r",
        default=None,
        help="report directory containing duplicates_data.json (default: --dir)",
    )
    parser.add_argument(
        "--backup",
        "-b",
        default=None,
        help="transaction-log directory (default: <report>/_duplicates_backup; "
        "the reference's backup dir — here it holds the event log, the "
        "record an executor replays/undoes, since this engine plans and "
        "logs but never moves bytes itself)",
    )
    parser.add_argument(
        "--no-rename",
        action="store_true",
        help="skip Phase B: don't rename kept files to more readable names",
    )
    parser.add_argument(
        "--no-date-rename",
        action="store_true",
        help="skip Phase C: no date renames or mtime updates",
    )
    parser.add_argument(
        "--date-rename-scope",
        choices=["kept-only", "all-files"],
        default="kept-only",
        help="Phase C scope (default: kept-only)",
    )
    parser.add_argument(
        "--timestamps",
        default=None,
        help="parquet of (path, commit_ts) rows feeding Phase C dates "
        "(this engine has no filesystem mtimes to fall back on; "
        "required when Phase C is enabled)",
    )
    parser.add_argument(
        "--dry-run",
        action="store_true",
        help="compute the full plan but write nothing",
    )
    parser.add_argument(
        "--yes",
        "-y",
        action="store_true",
        help="accepted for surface parity (this engine is non-interactive)",
    )
    parser.add_argument(
        "--undo",
        action="store_true",
        help="undo the previous cleanup using the transaction log",
    )
    parser.add_argument(
        "--force",
        action="store_true",
        help="allow source mismatch between report and --dir",
    )
    return parser


def main(argv: list[str] | None = None) -> None:
    import os
    import sys

    args = build_parser().parse_args(argv)
    from photo_dedup_spark.session import build_session
    from photo_dedup_spark.sources.report import InvalidReportError

    report_dir = args.report or args.dir
    log_dir = args.backup or os.path.join(report_dir, "_duplicates_backup")
    spark = build_session(app_name="photo-dedup-clean")
    try:
        if args.undo:
            inverse = undo(spark, log_dir)
            print(f"undo plan: {inverse.count()} inverse actions (status: undone)")
            return
        timestamps = None
        date_scope = None
        if not args.no_date_rename and args.timestamps is not None:
            timestamps = spark.read.parquet(args.timestamps)
            date_scope = args.date_rename_scope
        result = clean(
            spark,
            report_dir=report_dir,
            log_dir=log_dir,
            source=args.dir,
            dry_run=args.dry_run,
            force=args.force,
            do_rename=not args.no_rename,
            date_scope=date_scope,
            timestamps=timestamps,
        )
        mode = "dry-run" if args.dry_run else "logged"
        print(f"clean plan ({mode}): {result.summary['actions']}")
    except (InvalidReportError, eventlog.EventLogError, ValueError) as e:
        # reference exit contract: PhotoDedupError → stderr + exit 1
        # (clean.py:128-130)
        print(f"\nERROR: {e}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
