"""Connected-components unit semantics (reference BFS,
/root/reference/photo_dedup/scanner.py:286-310)."""

import pytest

from photo_dedup_spark.operators.components import connected_components
from photo_dedup_spark.operators.verify import verify_pairs


class TestVerifyFailureTelemetry:
    def test_corrupt_sketch_counted_not_merged(self, spark, cfg):
        # A5 (scanner.py:471-479): verifier failures are COUNTED while
        # the pair safely defaults to non-match (hasher.py:283-293)
        acc = spark.sparkContext.accumulator(0)
        docs = spark.createDataFrame(
            [
                (1, bytearray(b"123"), 0, [0, 0, 0, 0]),  # 3 bytes: not int64-aligned
                (2, bytearray(b"12345678"), 0, [0, 0, 0, 0]),
            ],
            "doc_id long, sketch binary, sketch_b int, simhash array<bigint>",
        )
        pairs = spark.createDataFrame([(1, 2)], "src long, dst long")
        out = verify_pairs(pairs, docs, cfg, failure_counter=acc).collect()
        assert len(out) == 1 and out[0].is_edge is False
        assert acc.value == 1


class TestBatchVerifyParity:
    def test_batch_udf_matches_per_pair_overlap(self, spark, cfg):
        # the tiled verifier's batched searchsorted kernel must be
        # bit-identical to the per-pair sketch_overlap_py arithmetic on
        # mixed levels, empty sketches, and corrupt rows
        import numpy as np

        from photo_dedup_spark.functions.signatures import (
            sketch_from_bytes,
            sketch_overlap_py,
            sketch_to_bytes,
        )

        rng = np.random.RandomState(7)
        docs_py = {}
        rows = []
        for doc_id in range(1, 26):
            lvl = int(rng.randint(0, 3))
            size = int(rng.randint(0, 40))
            # level-b sketches only contain hashes under 2^(64-b)
            vals = np.unique(
                rng.randint(0, 1 << (62 - lvl), size=size).astype(np.uint64)
            )
            raw = sketch_to_bytes(np.sort(vals).view(np.int64))
            docs_py[doc_id] = (raw, lvl)
            rows.append((doc_id, bytearray(raw), lvl, [0, 0, 0, 0]))
        rows.append((99, bytearray(b"xyz"), 0, [0, 0, 0, 0]))  # corrupt
        docs = spark.createDataFrame(
            rows, "doc_id long, sketch binary, sketch_b int, simhash array<bigint>"
        )
        pair_rows = [(a, b) for a in range(1, 26) for b in range(a + 1, 26)]
        pair_rows += [(1, 99), (99, 2)]
        pairs = spark.createDataFrame(pair_rows, "src long, dst long")
        got = {
            (r.src, r.dst): (r.jaccard, r.containment)
            for r in verify_pairs(pairs, docs, cfg).collect()
        }
        assert len(got) == len(pair_rows)
        for a, b in pair_rows:
            if 99 in (a, b):
                assert got[(a, b)] == (0.0, 0.0)
                continue
            ra, la = docs_py[a]
            rb, lb = docs_py[b]
            exp = sketch_overlap_py(sketch_from_bytes(ra), la, sketch_from_bytes(rb), lb)
            assert got[(a, b)] == (float(exp[0]), float(exp[1])), (a, b)


def _labels(spark, cfg, nodes, edges):
    n = spark.createDataFrame([(x,) for x in nodes], "doc_id long")
    if edges:
        e = spark.createDataFrame(edges, "src long, dst long")
    else:
        e = spark.createDataFrame([], "src long, dst long")
    labels, metrics = connected_components(n, e, cfg)
    return {r.doc_id: r.cluster_id for r in labels.collect()}, metrics


def _dist_cfg(cfg):
    """Force the distributed star-contraction loop (the small test
    graphs would otherwise all take the driver union-find path)."""
    import dataclasses

    return dataclasses.replace(cfg, cc_driver_max_edges=0)


def _path(n, seed):
    import random

    order = list(range(n))
    random.Random(seed).shuffle(order)
    return list(zip(order, order[1:]))


def _random_graph(n, m, seed):
    import random

    rng = random.Random(seed)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


# (nodes, edges) graphs the distributed loop must label exactly as the
# driver union-find does
GRAPHS = {
    "shuffled_path_300": (range(300), _path(300, 11)),
    "shuffled_path_300_b": (range(300), _path(300, 12)),
    "random_sparse": (range(200), _random_graph(200, 150, 1234)),
    "random_dense": (range(120), _random_graph(120, 300, 99)),
    "dup_reversed_selfloop": (
        range(1, 9),
        [(1, 2), (2, 1), (2, 1), (3, 3), (3, 2), (5, 5), (6, 4), (4, 6), (8, 7), (7, 8)],
    ),
    "empty": ([3, 9], []),
    "star_forest": (range(12), [(0, 5), (7, 0), (1, 9), (1, 8), (2, 1), (4, 10)]),
}


class TestConnectedComponents:
    def test_chain_collapses_to_min(self, spark, cfg):
        got, m = _labels(spark, _dist_cfg(cfg), range(1, 8), [(1, 2), (2, 3), (3, 4), (5, 6)])
        assert got[1] == got[2] == got[3] == got[4] == 1
        assert got[5] == got[6] == 5
        assert got[7] == 7
        assert m["cc_changed_per_iter"][-1] == 0

    def test_direction_agnostic(self, spark, cfg):
        # edges given (big → small): min label still propagates
        got, _ = _labels(spark, _dist_cfg(cfg), [1, 2, 3], [(3, 2), (2, 1)])
        assert got == {1: 1, 2: 1, 3: 1}

    def test_two_stars_merged_by_bridge(self, spark, cfg):
        # hybrid merge J6 (scanner.py:583-622): two exact-group stars
        # linked by one verified near-edge become one cluster
        star1 = [(10, 11), (10, 12)]
        star2 = [(20, 21), (20, 22)]
        bridge = [(12, 21)]
        got, _ = _labels(spark, _dist_cfg(cfg), [10, 11, 12, 20, 21, 22], star1 + star2 + bridge)
        assert len(set(got.values())) == 1

    def test_long_chain_converges_within_bound(self, spark, cfg):
        n = 40
        got, m = _labels(spark, _dist_cfg(cfg), range(n), [(i, i + 1) for i in range(n - 1)])
        assert set(got.values()) == {0}
        assert m["cc_iterations"] <= cfg.cc_max_iters

    @pytest.mark.parametrize("graph", sorted(GRAPHS))
    def test_loop_matches_driver_union_find(self, spark, cfg, graph):
        import dataclasses

        nodes, edges = GRAPHS[graph]
        drv, md = _labels(spark, cfg, nodes, edges)
        # -1 forces the loop even for an empty edge set
        dst, m = _labels(spark, dataclasses.replace(cfg, cc_driver_max_edges=-1), nodes, edges)
        assert md["cc_mode"] == "driver-union-find" and m["cc_mode"] == "distributed"
        assert dst == drv
        assert m["cc_max_component"] == md["cc_max_component"]
        # one entry per round in both per-round series; the stop round
        # is the first with no unsettled node
        assert len(m["cc_changed_per_iter"]) == len(m["cc_edges_per_check"]) == m["cc_iterations"]
        assert m["cc_changed_per_iter"][-1] == 0 and all(m["cc_changed_per_iter"][:-1])
        if graph in ("star_forest", "empty"):
            # already a union of min-centred stars: one certifying round
            assert m["cc_changed_per_iter"] == [0]
            assert m["cc_edges_per_check"] == [len(edges)]

    def test_path_runs_at_most_three_jobs_per_round(self, spark, cfg):
        """A round is two aggregates and the write that carries the stop
        test: under AQE at most one job per shuffle stage plus the write.
        Outside the rounds the call runs the route collect and the
        labels checkpoint (≤ 3 jobs)."""
        n = spark.createDataFrame([(x,) for x in range(40)], "doc_id long")
        e = spark.createDataFrame([(i, i + 1) for i in range(39)], "src long, dst long")
        sc = spark.sparkContext
        sc.setJobGroup("cc-path-40", "cc-path-40")
        try:
            _, m = connected_components(n, e, _dist_cfg(cfg))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup("cc-path-40"))
        assert jobs <= 3 * m["cc_iterations"] + 3, (jobs, m)

    def test_scratch_is_deleted(self, spark, cfg):
        """The round files are deleted after the loop, also when it
        fails to converge (a 40-node path needs more than one round)."""
        import dataclasses
        import glob
        import os
        import tempfile

        def scratch():
            return set(glob.glob(os.path.join(tempfile.gettempdir(), "cc_edges_*")))

        before = scratch()
        path = [(i, i + 1) for i in range(39)]
        _labels(spark, _dist_cfg(cfg), range(40), path)
        assert scratch() == before
        with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
            _labels(spark, dataclasses.replace(_dist_cfg(cfg), cc_max_iters=1), range(40), path)
        assert scratch() == before


class TestDriverUnionFind:
    def test_default_path_is_driver_for_small_graphs(self, spark, cfg):
        got, m = _labels(spark, cfg, range(1, 8), [(1, 2), (2, 3), (3, 4), (5, 6)])
        assert m["cc_mode"] == "driver-union-find"
        assert got[1] == got[2] == got[3] == got[4] == 1
        assert got[5] == got[6] == 5 and got[7] == 7

    def test_no_edges(self, spark, cfg):
        got, m = _labels(spark, cfg, [3, 9], [])
        assert got == {3: 3, 9: 9}
        assert m["cc_mode"] == "driver-union-find" and m["cc_driver_edges"] == 0

    def test_matches_distributed_on_random_graph(self, spark, cfg):
        import random

        rng = random.Random(1234)
        nodes = list(range(200))
        edges = [
            (rng.randrange(200), rng.randrange(200)) for _ in range(150)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        drv, md = _labels(spark, cfg, nodes, edges)
        dst, mdist = _labels(spark, _dist_cfg(cfg), nodes, edges)
        assert md["cc_mode"] == "driver-union-find"
        assert mdist["cc_mode"] == "distributed"
        assert drv == dst

    def test_threshold_routes_to_distributed(self, spark, cfg):
        import dataclasses

        small = dataclasses.replace(cfg, cc_driver_max_edges=2)
        _, m = _labels(spark, small, [1, 2, 3, 4], [(1, 2), (2, 3), (3, 4)])
        assert m["cc_mode"] == "distributed"


class TestChainCorpusEquivalence:
    """Pipeline-level driver-vs-distributed CC equivalence on a planted
    mega-component (r4 VERDICT next-round #1): the drifting-chain corpus
    (benchcorpus._chain_member) creates one path-shaped component whose
    DIAMETER equals its size — the label-propagation worst case — while
    candidate pairs stay O(n).  Both CC paths must produce bit-identical
    final assignments end-to-end (CC + rep-verify split + keep window).
    The bench-scale (120k-base) twin of this gate is
    tools/cc_equivalence.py → BENCH/cc_equivalence.json."""

    def test_assignments_identical_and_distributed_loop_exercised(self, spark, cfg):
        import dataclasses

        from photo_dedup_spark.benchcorpus import generate_bench_corpus
        from photo_dedup_spark.pipeline import run_pipeline

        files = generate_bench_corpus(
            spark, n_bases=400, size_funcs=6, chain_every=2
        ).localCheckpoint()
        runs = {}
        for label, c in (
            ("driver", cfg),
            ("distributed", dataclasses.replace(cfg, cc_driver_max_edges=0)),
        ):
            res = run_pipeline(spark, files, c, mode="hybrid", collect_metrics=True)
            rows = {
                r.doc_id: (r.cluster_id, r.rn, r.is_keep)
                for r in res.assignments.collect()
            }
            runs[label] = (rows, res.metrics)
        drv_rows, drv_m = runs["driver"]
        dst_rows, dst_m = runs["distributed"]
        assert drv_m["cc_mode"] == "driver-union-find"
        assert dst_m["cc_mode"] == "distributed"
        # a 200-member path needs real propagation work — this is the
        # evidence the mega-component actually formed and the loop ran
        assert dst_m["cc_iterations"] >= 4, dst_m
        assert dst_m["cc_changed_per_iter"][-1] == 0
        assert drv_rows == dst_rows
