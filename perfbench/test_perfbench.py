"""Self-tests of the benchmark (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from perfbench.check import check_assignments, check_report_plan, fingerprint
from perfbench.corpus import Truth, corpus_rows
from perfbench.metrics import END_TO_END, NAME_RE, PER_LAYER
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def rows():
    return corpus_rows(seed=3, n_bases=300, chain_every=16)


def _assignments(truth: Truth, near: bool) -> pd.DataFrame:
    """A correct assignment table for *truth*: planted copies (and, with
    *near*, near variants) join their base; everything else clusters by
    normalized key; the smallest doc_id of a cluster is its keep."""
    t = truth.table.copy()
    t["doc_id"] = np.arange(len(t), dtype=np.int64)
    joins_base = t["role"].isin(["base", "copy", "near"] if near else ["base", "copy"])
    key = np.where(joins_base, "b" + t["base"].astype(str), "k" + t["norm_key"])
    t["cluster_id"] = t.groupby(key)["doc_id"].transform("min")
    t["is_keep"] = t["doc_id"] == t["cluster_id"]
    return t[["doc_id", "repo", "path", "cluster_id", "is_keep"]]


def test_generator_is_deterministic_per_seed(rows):
    assert corpus_rows(seed=3, n_bases=300, chain_every=16) == rows
    other = corpus_rows(seed=4, n_bases=300, chain_every=16)
    assert {r[4] for r in other}.isdisjoint({r[4] for r in rows if r[0] != "boiler/chain"})
    # the chain is shared, so every seed's components loop runs alike
    assert [r for r in other if r[0] == "boiler/chain"] == [
        r for r in rows if r[0] == "boiler/chain"
    ]


def test_generator_plants_every_role(rows):
    roles = set(Truth.from_rows(rows).table["role"])
    assert {"base", "copy", "near", "chain"} <= roles


def test_generator_composition_is_the_same_for_every_seed(rows):
    counts = Truth.from_rows(rows).table["role"].value_counts().to_dict()
    for seed in (4, 5):
        other = Truth.from_rows(corpus_rows(seed=seed, n_bases=300, chain_every=16))
        assert other.table["role"].value_counts().to_dict() == counts


@pytest.mark.parametrize("near", [True, False])
def test_check_accepts_correct_assignments(rows, near):
    truth = Truth.from_rows(rows)
    res = check_assignments(_assignments(truth, near), truth, near_expected=near)
    assert res.ok, res.errors
    assert res.planted_recall == 1.0
    assert res.cross_base_merge_frac == 0.0


def test_check_rejects_flipped_keep(rows):
    truth = Truth.from_rows(rows)
    good = _assignments(truth, near=True)
    bad = good.copy()
    bad.loc[bad.index[0], "is_keep"] = not bad.loc[bad.index[0], "is_keep"]
    res = check_assignments(bad, truth, near_expected=True)
    assert not res.ok
    assert any("exactly one keep" in e for e in res.errors)
    assert fingerprint(bad) != fingerprint(good)


def test_check_rejects_split_exact_group(rows):
    truth = Truth.from_rows(rows)
    bad = _assignments(truth, near=False)
    copy = bad.index[truth.table["role"] == "copy"][0]
    bad.loc[copy, "cluster_id"] = bad.loc[copy, "doc_id"]
    bad.loc[copy, "is_keep"] = True
    res = check_assignments(bad, truth, near_expected=False)
    assert not res.ok
    assert any("groups split" in e for e in res.errors)


def test_check_rejects_missed_near_variants(rows):
    truth = Truth.from_rows(rows)
    # exact-mode clusters fail the similarity-mode recall gate
    res = check_assignments(_assignments(truth, near=False), truth, near_expected=True)
    assert any("planted recall" in e for e in res.errors)


def test_report_plan_check(rows):
    assign = _assignments(Truth.from_rows(rows), near=False)
    deletes = int((~assign["is_keep"]).sum())
    groups = int((assign.groupby("cluster_id").size() >= 2).sum())
    summary = {"duplicate_groups": groups, "duplicate_files": deletes}
    assert check_report_plan(assign, summary, deletes) == []
    assert check_report_plan(assign, summary, deletes - 1)
    assert check_report_plan(assign, {**summary, "duplicate_groups": groups + 1}, deletes)


def test_metric_names_and_units():
    names = [m[0] for m in END_TO_END] + [m[0] for m in PER_LAYER]
    assert len(names) == len(set(names))
    assert len(PER_LAYER) <= 128
    for name in names:
        assert NAME_RE.match(name), name
    for _, unit, better, *_ in END_TO_END + PER_LAYER:
        assert len(unit) <= 16 and better in ("higher", "lower")


def test_benchmark_json_matches_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [tuple(m.values()) for m in spec["end_to_end"]] == [tuple(m) for m in END_TO_END]
    assert [tuple(m.values()) for m in spec["per_layer"]] == [tuple(m) for m in PER_LAYER]
