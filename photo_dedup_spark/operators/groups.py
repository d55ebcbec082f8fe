"""Group build, keep-selection, report + summary (reference stage 4).

W1 keep-selection is THE semantic centerpiece: per group, sort members
by ``(-size, normcase(path))`` — size desc, path asc — first is keep,
rest are deletes; the comment at /root/reference/photo_dedup/
scanner.py:713 calls out determinism and tests/test_core.py:1580-1588
pins the tie-break.  We reproduce it as a window:
``row_number() over (partition by cluster order by n_chars desc, path)``.

A2/S4: summary aggregates + JSON report (scanner.py:738-772);
W2: groups ordered by member count desc (scanner.py:711);
P3: only groups with ≥ 2 members are reported (scanner.py:955-957).

Scale note: member lists are only collect_list'ed for report emission
and capped; full assignments stay as a flat (doc_id, cluster_id,
is_keep) DataFrame (SURVEY.md §4.2.6 spill-safety).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def keep_selection(
    members: DataFrame,
    cluster_col: str = "cluster_id",
    size_col: str = "n_chars",
    path_col: str = "path",
) -> DataFrame:
    """Adds (rn, is_keep) per cluster member.

    Order: size desc, then case-normalized path asc, then raw path —
    the reference's ``(-size, os.path.normcase(path))`` (scanner.py:714).
    The reference's path is filesystem-unique; ours is (repo, path), so
    every extra identity column present (repo, doc_id) is appended to
    keep the order TOTAL — two rows may share path and size across
    repos (e.g. many `vendor/leftpad.js`), and a non-total order would
    let the keep flip with partitioning (value-based determinism,
    SURVEY.md §7.3).
    """
    order = [F.desc(size_col), F.asc(F.lower(F.col(path_col))), F.asc(path_col)]
    for extra in ("repo", "doc_id"):
        if extra in members.columns:
            order.append(F.asc(extra))
    w = Window.partitionBy(cluster_col).orderBy(*order)
    return members.withColumn("rn", F.row_number().over(w)).withColumn(
        "is_keep", F.col("rn") == 1
    )


def dup_groups_only(selected: DataFrame, cluster_col: str = "cluster_id") -> DataFrame:
    """P3: keep only clusters with ≥ 2 members."""
    w = Window.partitionBy(cluster_col)
    return selected.withColumn("member_count", F.count("*").over(w)).where(
        F.col("member_count") >= 2
    )


def build_report_groups(
    selected: DataFrame,
    cluster_col: str = "cluster_id",
    size_col: str = "n_chars",
    path_col: str = "path",
    max_members_per_group: int = 10_000,
) -> DataFrame:
    """Nested group docs: {cluster_id, member_count, keep{path,size},
    delete:[{path,size}...]}, ordered by member count desc (W2).

    ``max_members_per_group`` bounds collect_list for the report sink
    (assignments themselves are never collected).
    """
    dups = dup_groups_only(selected, cluster_col)
    capped = dups.where(F.col("rn") <= max_members_per_group)
    keeps = capped.where(F.col("is_keep")).select(
        cluster_col,
        F.struct(
            F.col(path_col).alias("path"), F.col(size_col).alias("size")
        ).alias("keep"),
        "member_count",
    )
    deletes = (
        capped.where(~F.col("is_keep"))
        .groupBy(cluster_col)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("rn").alias("rn"),
                        F.col(path_col).alias("path"),
                        F.col(size_col).alias("size"),
                    )
                )
            ).alias("delete_rn")
        )
        .select(
            cluster_col,
            F.transform(
                "delete_rn",
                lambda s: F.struct(s.getField("path").alias("path"), s.getField("size").alias("size")),
            ).alias("delete"),
        )
    )
    return (
        keeps.join(deletes, cluster_col)
        .orderBy(F.desc("member_count"), F.asc(cluster_col))
    )


def summary_aggregates(selected: DataFrame, total_files: int | None = None) -> DataFrame:
    """A2: duplicate_groups, duplicate_files (deletable), space_saveable
    (sum of delete sizes), files_remaining (scanner.py:746-763)."""
    dups = dup_groups_only(selected)
    agg = dups.agg(
        F.countDistinct("cluster_id").alias("duplicate_groups"),
        F.sum(F.when(~F.col("is_keep"), 1).otherwise(0)).alias("duplicate_files"),
        F.sum(F.when(~F.col("is_keep"), F.col("n_chars")).otherwise(0)).alias(
            "space_saveable"
        ),
    )
    if total_files is not None:
        agg = agg.withColumn("total_files", F.lit(total_files)).withColumn(
            "files_remaining", F.lit(total_files) - F.col("duplicate_files")
        )
    return agg
