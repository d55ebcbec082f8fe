"""Scan entry point — the reference's first CLI flow.

Mirrors /root/reference/scan.py:36-126 flag for flag: ``--dir``,
``--output``, ``--no-pixel``, ``--no-recursive``, ``--strict-verify``,
``--image-match`` and the similar-mode threshold overrides, with the
same exit-code contract (engine errors print ``ERROR: …`` to stderr
and exit 1; argparse rejects bad flags with exit 2).

Differences forced by the engine model (documented, not silent):

* ``--dir`` names a *table* — a parquet path or Iceberg identifier of
  (repo, path, commit, lang, content) rows — not a filesystem tree;
  ``--output`` is the report directory (default: the ``--dir`` path,
  the reference's "same as --dir" default).
* ``--rms-threshold`` (pixel RMS, 0-255, lower = stricter) has no
  pixel analog here; the stage-2 verify knob is ``--jaccard-threshold``
  (0-1, higher = stricter) per the frozen-config mapping in
  BASELINE.md (RMS_THRESHOLD=8.0 ↔ τ=0.70).

``python -m photo_dedup_spark.scan --dir … --output …`` writes the
same duplicates_data.json / groups / text report that
:func:`photo_dedup_spark.sources.report.write_report` produces.
"""

from __future__ import annotations

import argparse
import sys
from dataclasses import replace

from pyspark.sql import SparkSession

from photo_dedup_spark.config import DEFAULT_CONFIG, DedupConfig
from photo_dedup_spark.operators.groups import build_report_groups, summary_aggregates
from photo_dedup_spark.pipeline import run_pipeline
from photo_dedup_spark.sources.io import SourceError, hygiene_filter, read_files
from photo_dedup_spark.sources.report import write_report


def scan(
    spark: SparkSession,
    source: str,
    output_dir: str | None = None,
    recursive: bool = True,
    strict_verify: bool = False,
    image_match: str = "hybrid",
    use_pixel: bool = True,
    cfg: DedupConfig | None = None,
    hamming_threshold: int | None = None,
    jaccard_threshold: float | None = None,
) -> dict:
    """Library form of the CLI: read → hygiene → pipeline → report.

    ``use_pixel=False`` forces exact matching regardless of
    ``image_match`` — the reference's ``--no-pixel`` precedence
    (scanner.py:861-867).  Threshold overrides go through the frozen
    config's validation (InvalidParameterError analog: ValueError)."""
    if cfg is None:
        cfg = DEFAULT_CONFIG
    overrides = {}
    if hamming_threshold is not None:
        overrides["hamming_threshold"] = hamming_threshold
    if jaccard_threshold is not None:
        overrides["jaccard_threshold"] = jaccard_threshold
    if overrides:
        cfg = replace(cfg, **overrides)  # re-runs __post_init__ validation
    mode = "exact" if not use_pixel else image_match
    files = hygiene_filter(read_files(spark, source), recursive=recursive)
    result = run_pipeline(
        spark, files, cfg, mode=mode, strict_verify=strict_verify, collect_metrics=False
    )
    # Report paths are repo-qualified: the reference's report path is the
    # filesystem-unique absolute path (scanner.py:741-748); our identity
    # is (repo, path) — the same bare path legitimately recurs across
    # repos (vendored files), and the clean loader's one-role-per-path
    # validation (cleaner.py:177-232) requires report paths be unique.
    from pyspark.sql import functions as F

    assignments = result.assignments.withColumn(
        "path", F.concat_ws("/", "repo", "path")
    )
    groups = build_report_groups(assignments)
    summary = summary_aggregates(assignments)
    return write_report(groups, summary, output_dir or source, cfg, source=source)


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="photo_dedup_spark.scan",
        description="Scan a files table for duplicate documents",
    )
    parser.add_argument(
        "--dir",
        "-d",
        required=True,
        help="files table to scan (parquet path or Iceberg identifier)",
    )
    parser.add_argument(
        "--output",
        "-o",
        default=None,
        help="output directory for reports (default: same as --dir)",
    )
    parser.add_argument(
        "--no-pixel",
        action="store_true",
        help="disable normalized-content matching, exact sha256 only (faster)",
    )
    parser.add_argument(
        "--no-recursive",
        action="store_true",
        help="only depth-0 paths (don't descend into subdirectories)",
    )
    parser.add_argument(
        "--strict-verify",
        action="store_true",
        help="re-split clusters by raw sha256 so only byte-identical files group",
    )
    parser.add_argument(
        "--image-match",
        choices=["exact", "similar", "hybrid"],
        default="hybrid",
        help="matching mode (default: hybrid)",
    )
    parser.add_argument(
        "--hamming-threshold",
        type=int,
        default=None,
        help="SimHash Hamming candidate threshold (default: 20)",
    )
    parser.add_argument(
        "--jaccard-threshold",
        type=float,
        default=None,
        help="stage-2 verify threshold in (0,1] (default: 0.70; the "
        "RMS_THRESHOLD analog — see BASELINE.md)",
    )
    return parser


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    from photo_dedup_spark.session import build_session

    spark = build_session(app_name="photo-dedup-scan")
    try:
        doc = scan(
            spark,
            source=args.dir,
            output_dir=args.output,
            recursive=not args.no_recursive,
            strict_verify=args.strict_verify,
            image_match=args.image_match,
            use_pixel=not args.no_pixel,
            hamming_threshold=args.hamming_threshold,
            jaccard_threshold=args.jaccard_threshold,
        )
    except (SourceError, ValueError) as e:
        # reference exit contract: PhotoDedupError → stderr + exit 1
        # (scan.py:122-124)
        print(f"\nERROR: {e}", file=sys.stderr)
        sys.exit(1)
    s = doc["summary"]
    print(
        f"scan complete: {s.get('duplicate_groups', 0)} duplicate groups, "
        f"{s.get('duplicate_files', 0)} duplicate files"
    )


if __name__ == "__main__":
    main()
