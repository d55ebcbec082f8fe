"""Output checks run on every benchmark sample.

Pure pandas over the collected assignment table
(doc_id, repo, path, cluster_id, is_keep) and the planted truth — no
Spark, so the checks themselves are unit-testable and cannot share a
bug with the engine's own operators.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench.corpus import Truth

MIN_RECALL = 0.99  # as tests/test_bench_recall.py gates the same corpus shape
MAX_CROSS_BASE_MERGE = 0.01


@dataclass
class CheckResult:
    planted_recall: float = 0.0
    cross_base_merge_frac: float = 1.0
    errors: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.errors


def fingerprint(assign: pd.DataFrame) -> str:
    """sha256 of the sorted (doc_id, cluster_id, is_keep) triples."""
    t = assign.sort_values(["doc_id", "cluster_id", "is_keep"])
    h = hashlib.sha256()
    h.update(t["doc_id"].to_numpy(np.int64).tobytes())
    h.update(t["cluster_id"].to_numpy(np.int64).tobytes())
    h.update(t["is_keep"].to_numpy(np.uint8).tobytes())
    return h.hexdigest()


def check_assignments(
    assign: pd.DataFrame, truth: Truth, near_expected: bool
) -> CheckResult:
    """*near_expected*: near variants must join their base (similarity
    modes); in exact mode only byte/normalized-equal copies may, so a
    cluster must then hold exactly one normalized key."""
    res = CheckResult()
    if assign.duplicated(["repo", "path"]).any():
        res.errors.append("an input row is assigned more than once")
    a = assign.merge(truth.table, on=["repo", "path"], how="inner")
    if len(a) != len(truth.table) or len(a) != len(assign):
        res.errors.append(
            f"{len(assign)} assigned rows vs {len(truth.table)} input rows "
            f"({len(a)} matched)"
        )
    keeps = a.groupby("cluster_id")["is_keep"].sum()
    if (keeps != 1).any():
        res.errors.append(f"{int((keeps != 1).sum())} clusters without exactly one keep")
    split = a.groupby("norm_key")["cluster_id"].nunique()
    if (split > 1).any():
        res.errors.append(f"{int((split > 1).sum())} equal-normalized-key groups split")
    if not near_expected:
        mixed = a.groupby("cluster_id")["norm_key"].nunique()
        if (mixed > 1).any():
            res.errors.append(f"{int((mixed > 1).sum())} exact clusters mix keys")

    base_cluster = a[a["role"] == "base"].set_index("base")["cluster_id"]
    planted = a[a["role"].isin(("copy", "near") if near_expected else ("copy",))]
    if planted.empty:
        res.errors.append("no planted duplicates in the corpus")
    else:
        hits = planted["cluster_id"].to_numpy() == base_cluster.reindex(
            planted["base"]
        ).to_numpy()
        res.planted_recall = float(hits.mean())
        if res.planted_recall < MIN_RECALL:
            res.errors.append(f"planted recall {res.planted_recall:.4f} < {MIN_RECALL}")

    bases = a[a["role"] != "chain"].groupby("cluster_id")["base"].nunique()
    res.cross_base_merge_frac = float((bases > 1).mean()) if len(bases) else 1.0
    if res.cross_base_merge_frac > MAX_CROSS_BASE_MERGE:
        res.errors.append(
            f"cross-base merge fraction {res.cross_base_merge_frac:.4f} "
            f"> {MAX_CROSS_BASE_MERGE}"
        )
    return res


def check_report_plan(assign: pd.DataFrame, summary: dict, plan_rows: int) -> list[str]:
    """The report summary and the move plan agree with the assignments:
    one move per non-keep row, groups = clusters with ≥ 2 members."""
    sizes = assign.groupby("cluster_id").size()
    want = {
        "duplicate_groups": int((sizes >= 2).sum()),
        "duplicate_files": int((~assign["is_keep"]).sum()),
    }
    errors = [
        f"report {k} = {summary.get(k)}, assignments give {v}"
        for k, v in want.items()
        if summary.get(k) != v
    ]
    if plan_rows != want["duplicate_files"]:
        errors.append(f"plan has {plan_rows} moves for {want['duplicate_files']} deletes")
    return errors
