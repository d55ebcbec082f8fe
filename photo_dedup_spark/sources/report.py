"""JSON report sink/source (reference S4/S5/S6).

``write_json_report`` (scanner.py:738-772) becomes a driver-side JSON
dump of the summary + a bounded collected sample of top groups, with
the full group table written as parquet/JSON by Spark (never collect
the unbounded assignment set — SURVEY.md §4.2.6).

``load_json_report`` (cleaner.py:515-535) reads it back FAILFAST with
an explicit schema, mirroring the reference's hard schema validation
(cleaner.py:177-232 raising InvalidReportError).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from photo_dedup_spark.config import DedupConfig

REPORT_VERSION = 2

GROUP_SCHEMA = T.StructType(
    [
        T.StructField("cluster_id", T.LongType()),
        T.StructField("member_count", T.LongType()),
        T.StructField(
            "keep",
            T.StructType(
                [T.StructField("path", T.StringType()), T.StructField("size", T.LongType())]
            ),
        ),
        T.StructField(
            "delete",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("path", T.StringType()),
                        T.StructField("size", T.LongType()),
                    ]
                )
            ),
        ),
    ]
)


class InvalidReportError(ValueError):
    """Schema/consistency violation in a loaded report (cleaner.py:44)."""


def write_report(
    report_groups: DataFrame,
    summary: DataFrame,
    out_dir: str,
    cfg: DedupConfig,
    source: str,
    top_k_preview: int = 10,
) -> dict:
    """Write groups (spark json) + summary head doc (driver json).

    Returns the summary document (the reference returns report_data,
    scanner.py:772)."""
    os.makedirs(out_dir, exist_ok=True)
    groups_path = os.path.join(out_dir, "groups")
    # the groups write and the top-k preview read the sorted groups
    # once; under AQE this lazy checkpoint already runs the groups'
    # shuffle stages here, and the write reads their output
    report_groups = report_groups.localCheckpoint(eager=False)
    report_groups.write.mode("overwrite").json(groups_path)

    summary_row = summary.collect()
    s = summary_row[0].asDict() if summary_row else {}
    preview = [
        json.loads(r["j"])
        for r in report_groups.select(F.to_json(F.struct("*")).alias("j"))
        .limit(top_k_preview)
        .collect()
    ]
    doc = {
        "version": REPORT_VERSION,
        "scan_time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "source": source,
        "settings": cfg.to_dict(),
        "config_hash": cfg.config_hash(),
        "summary": {k: (int(v) if v is not None else 0) for k, v in s.items()},
        "top_groups": preview,
        "groups_path": groups_path,
    }
    with open(os.path.join(out_dir, "duplicates_data.json"), "w") as f:
        json.dump(doc, f, indent=2)
    _write_text_report(doc, out_dir)
    return doc


def _format_size(n: int) -> str:
    """utils.py:11-20 human formatting, chars-as-bytes for code payload
    (GB uses two decimals, smaller units one — utils.py:13-20)."""
    if n >= 1 << 30:
        return f"{n / (1 << 30):.2f} GB"
    for unit, div in (("MB", 1 << 20), ("KB", 1 << 10)):
        if n >= div:
            return f"{n / div:.1f} {unit}"
    return f"{n} B"


def _write_text_report(doc: dict, out_dir: str) -> None:
    """S5 human rendering (scanner.py:775-812)."""
    s = doc["summary"]
    lines = [
        "Duplicate scan report",
        f"  scanned:   {doc['source']}",
        f"  when:      {doc['scan_time']}",
        f"  config:    {doc['config_hash']}",
        f"  groups:    {s.get('duplicate_groups', 0)}",
        f"  deletable: {s.get('duplicate_files', 0)}"
        f" ({_format_size(s.get('space_saveable', 0))})",
        "",
    ]
    for g in doc["top_groups"]:
        lines.append(
            f"group {g['cluster_id']} ({g['member_count']} members) "
            f"keep={g['keep']['path']}"
        )
        for d in g["delete"][:5]:
            lines.append(f"  delete {d['path']} ({_format_size(d['size'])})")
    with open(os.path.join(out_dir, "duplicates_report.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")


def load_report(spark: SparkSession, out_dir: str) -> tuple[dict, DataFrame]:
    """S6: strict reload.  FAILFAST json + summary-doc shape checks."""
    head_path = os.path.join(out_dir, "duplicates_data.json")
    try:
        with open(head_path) as f:
            doc = json.load(f)
    except (OSError, json.JSONDecodeError) as e:
        raise InvalidReportError(f"unreadable report head: {e}") from e
    for key in ("version", "summary", "groups_path", "config_hash"):
        if key not in doc:
            raise InvalidReportError(f"report head missing '{key}'")
    groups = spark.read.schema(GROUP_SCHEMA).option("mode", "FAILFAST").json(
        doc["groups_path"]
    )
    return doc, groups


def validate_source_match(doc: dict, source: str, force: bool = False) -> None:
    """P4 (cleaner.py:265-295): the report's recorded source table must
    equal the one being cleaned, unless forced."""
    if force:
        return
    if doc.get("source") != source:
        raise InvalidReportError(
            f"report was scanned from {doc.get('source')!r}, not {source!r} "
            "(pass force=True to override)"
        )


_DRIVE_RELATIVE = r"^[A-Za-z]:"


def validate_relative_paths(groups: DataFrame) -> None:
    """P5 (cleaner.py:115-174 ``_validate_relative_path``): every path in
    the report must be relative and traversal-free — reject absolute,
    ``..`` components, drive-relative, empty, and ``.``/self paths.
    (Symlink escapes have no table analog: paths here are keys, not
    filesystem dereferences.)"""
    paths = groups.select(
        F.explode(
            F.concat(F.array(F.col("keep.path")), F.col("delete.path"))
        ).alias("p")
    )
    bad = paths.where(
        F.col("p").isNull()
        | (F.length("p") == 0)
        | F.col("p").startswith("/")
        | F.col("p").rlike(_DRIVE_RELATIVE)
        | (F.col("p") == ".")
        | F.col("p").rlike(r"(^|/)\.\.(/|$)")
    )
    rows = bad.limit(1).collect()
    if rows:
        raise InvalidReportError(f"unsafe path in report: {rows[0]['p']!r}")


def validate_report_paths(groups: DataFrame) -> None:
    """U4/P5 analog: a path may appear in at most one group and never
    both as keep and delete (cleaner.py:177-232 seen_abs_paths)."""
    # concat (not array_union) so keep==delete inside ONE group still
    # yields two occurrences and is rejected (test_core.py:418-443)
    paths = groups.select(
        F.explode(
            F.concat(F.array(F.col("keep.path")), F.col("delete.path"))
        ).alias("p")
    )
    dup = paths.groupBy("p").count().where(F.col("count") > 1).limit(1).collect()
    if dup:
        raise InvalidReportError(f"path appears in multiple roles/groups: {dup[0]['p']}")
