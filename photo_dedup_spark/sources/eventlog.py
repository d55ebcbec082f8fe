"""Transaction event log: append-only JSONL sink + strictly-validated
source (reference S7/S8, /root/reference/photo_dedup/cleaner.py:301-438).

The reference appends move/rename/date_update events to
``_cleanup_log.events.jsonl`` with fsync batching, keeps a meta JSON
with a status state machine, and on undo re-reads the stream with
per-line type validation, refusing "meta says counts>0 but events
missing" (cleaner.py:358-369).

Ours logs *plan execution* events.  Spark writes the event rows
(partitioned JSONL); the meta doc is a driver-side JSON with the same
state machine.  ``load_events`` validates with a strict schema +
corrupt-record FAILFAST + per-type field checks, and enforces the
meta/event consistency guard.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("action", T.StringType()),
        T.StructField("src", T.StringType()),
        T.StructField("dst", T.StringType()),
        T.StructField("cluster_id", T.LongType()),
    ]
)

VALID_ACTIONS = (
    "move",
    "rename",
    "rename_stage",   # two-phase chain hop: src → temp (cleaner.py:797-919)
    "rename_final",   # two-phase chain hop: temp → final dst
    "date_rename",
    "set_mtime",
    "skip",
)

STATUS_FLOW = ("in_progress", "moves_complete", "complete", "undone")


class EventLogError(ValueError):
    """Invalid/incomplete event log (cleaner.py guards)."""


def write_events(plan: DataFrame, log_dir: str, status: str = "in_progress") -> dict:
    """Write plan rows as the event stream + meta doc."""
    if status not in STATUS_FLOW:
        raise EventLogError(f"invalid status {status!r}")
    os.makedirs(log_dir, exist_ok=True)
    events_dir = os.path.join(log_dir, "events")
    plan.select("seq", "action", "src", "dst", "cluster_id").write.mode(
        "overwrite"
    ).json(events_dir)
    counts = {
        r["action"]: r["n"]
        for r in plan.groupBy("action").agg(F.count("*").alias("n")).collect()
    }
    meta = {"status": status, "counts": counts, "events_dir": events_dir}
    tmp = os.path.join(log_dir, "_meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=2)
    os.replace(tmp, os.path.join(log_dir, "_meta.json"))
    return meta


def set_status(log_dir: str, status: str) -> None:
    """Advance the state machine (cleaner.py:313,794,1102,1254); only
    forward transitions (or → undone) are legal."""
    meta = _read_meta(log_dir)
    cur, new = STATUS_FLOW.index(meta["status"]), STATUS_FLOW.index(status)
    if new < cur:
        raise EventLogError(f"illegal transition {meta['status']} → {status}")
    meta["status"] = status
    tmp = os.path.join(log_dir, "_meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=2)
    os.replace(tmp, os.path.join(log_dir, "_meta.json"))


def _read_meta(log_dir: str) -> dict:
    try:
        with open(os.path.join(log_dir, "_meta.json")) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError) as e:
        raise EventLogError(f"unreadable meta: {e}") from e


def guard_not_in_progress(log_dir: str) -> None:
    """C5: refuse to operate over an incomplete log (cleaner.py:694-705).

    The reference refuses ANY existing log whose status is not in
    ('complete', 'undone') — a run that crashed between
    moves_complete and complete still owns a recovery record that a
    new clean() must not overwrite.  A corrupt/unreadable meta is
    allowed through (cleaner.py:705 JSONDecodeError → overwrite)."""
    if not os.path.exists(os.path.join(log_dir, "_meta.json")):
        return
    try:
        meta = _read_meta(log_dir)
        status = meta["status"]
    except (EventLogError, KeyError):
        return  # corrupt log: overwrite allowed, mirroring the reference
    if status not in ("complete", "undone"):
        raise EventLogError(
            f"previous run left an event log with status {status!r} "
            "(not complete/undone); undo or remove it first"
        )


def load_events(spark: SparkSession, log_dir: str) -> tuple[dict, DataFrame]:
    """S8: strict reload for undo.

    Validates: meta readable; status; schema FAILFAST; action whitelist;
    non-null seq/src/dst; per-action counts match meta (the
    'counts>0 but events missing' refusal, cleaner.py:358-369)."""
    meta = _read_meta(log_dir)
    if meta.get("status") not in STATUS_FLOW:
        raise EventLogError(f"invalid status in meta: {meta.get('status')!r}")
    events_dir = meta["events_dir"]
    expected = {k: v for k, v in meta.get("counts", {}).items()}
    if sum(expected.values()) > 0 and not os.path.isdir(events_dir):
        raise EventLogError("meta counts > 0 but event stream is missing")
    ev = (
        spark.read.schema(EVENT_SCHEMA)
        .option("mode", "FAILFAST")
        .json(events_dir)
    )
    bad = ev.where(
        ~F.col("action").isin(*VALID_ACTIONS)
        | F.col("seq").isNull()
        | F.col("src").isNull()
        | F.col("dst").isNull()
    )
    bad_rows = bad.limit(1).collect()
    if bad_rows:
        raise EventLogError(f"malformed event row: {bad_rows[0].asDict()}")
    # path-safety on every replayable entry (C4, cleaner.py:441-479
    # _validate_undo_entries): an event stream is untrusted input to
    # undo — reject absolute, drive-relative, traversal, empty, and
    # self paths before anything replays them.  set_mtime's dst is a
    # timestamp, not a path; skip rows replay nothing.
    unsafe = _unsafe_path_rows(ev).limit(1).collect()
    if unsafe:
        raise EventLogError(f"unsafe path in event row: {unsafe[0].asDict()}")
    got = {
        r["action"]: r["n"]
        for r in ev.groupBy("action").agg(F.count("*").alias("n")).collect()
    }
    if got != expected:
        raise EventLogError(f"event counts {got} != meta counts {expected}")
    return meta, ev


_DRIVE_RELATIVE = r"^[A-Za-z]:"


def _path_is_unsafe(p):
    """Same predicate family as report.validate_relative_paths (P5,
    cleaner.py:115-174): absolute, drive-relative, ``..`` component,
    empty, or self paths are rejected."""
    return (
        p.isNull()
        | (F.length(p) == 0)
        | p.startswith("/")
        | p.rlike(_DRIVE_RELATIVE)
        | (p == ".")
        | p.rlike(r"(^|/)\.\.(/|$)")
    )


def _unsafe_path_rows(ev: DataFrame) -> DataFrame:
    replayable = ev.where(F.col("action") != "skip")
    src_bad = _path_is_unsafe(F.col("src"))
    dst_bad = F.when(
        F.col("action") == "set_mtime", F.lit(False)
    ).otherwise(_path_is_unsafe(F.col("dst")))
    return replayable.where(src_bad | dst_bad)
