"""The block-tiled verifier and the inline plain-bucket pair expansion
(operators/verify.py, operators/lsh.py), pinned against references:
every verified row against the per-pair kernels ``sketch_overlap_py``
and ``hamming_py``, the candidate set against brute force.

Fixtures are adversarial (mixed sketch levels, corrupt rows, missing
endpoints, duplicate pairs, empty sketches, salted buckets), not just
the happy path.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from photo_dedup_spark.functions.signatures import (
    hamming_py,
    sketch_from_bytes,
    sketch_overlap_py,
    sketch_to_bytes,
)
from photo_dedup_spark.operators import lsh
from photo_dedup_spark.operators.verify import (
    TILE_MAX_BLOCKS,
    tile_count,
    verify_pairs,
)
from photo_dedup_spark.pipeline import _input_bytes

_SIG_SCHEMA = "doc_id long, sketch binary, sketch_b int, simhash array<bigint>"


def _mixed_docs(spark, n_docs=40, seed=11):
    """Signature rows with mixed levels, an empty sketch, a corrupt
    sketch, a null sketch, a null simhash and an exact copy (doc 95 of
    doc 1); returns the frame and its rows by doc_id."""
    rng = np.random.RandomState(seed)
    rows = []
    for doc_id in range(1, n_docs + 1):
        lvl = int(rng.randint(0, 3))
        size = int(rng.randint(0, 60))
        vals = np.unique(
            rng.randint(0, 1 << (62 - lvl), size=size).astype(np.uint64)
        )
        raw = bytearray(sketch_to_bytes(np.sort(vals).view(np.int64)))
        sim = [int(x) for x in rng.randint(-(2**62), 2**62, size=4)]
        rows.append((doc_id, raw, lvl, sim))
    rows.append((95, *rows[0][1:]))  # exact copy of doc 1
    rows.append((97, bytearray(b"xyz"), 0, [1, 2, 3, 4]))  # corrupt sketch
    rows.append((98, None, 0, [1, 2, 3, 4]))  # null sketch
    rows.append((96, bytearray(sketch_to_bytes(np.array([], dtype=np.int64))), 0, None))  # null simhash
    return spark.createDataFrame(rows, _SIG_SCHEMA), {r[0]: r[1:] for r in rows}


def _reference(a, b, cfg):
    """(jaccard, containment, hamming, is_edge) of one pair from the
    per-pair kernels; a missing or corrupt sketch is a non-match."""
    (sk_a, lvl_a, sim_a), (sk_b, lvl_b, sim_b) = a, b
    if sk_a is None or sk_b is None or len(sk_a) % 8 or len(sk_b) % 8:
        jac, con = 0.0, 0.0
    else:
        jac, con = sketch_overlap_py(
            sketch_from_bytes(bytes(sk_a)), lvl_a, sketch_from_bytes(bytes(sk_b)), lvl_b
        )
    ham = None if sim_a is None or sim_b is None else hamming_py(sim_a, sim_b)
    is_edge = jac >= cfg.jaccard_threshold or con >= cfg.containment_threshold
    return float(jac), float(con), ham, is_edge


class TestTiledVerifyParity:
    def test_tiled_matches_reference_kernels(self, spark, cfg):
        docs, by_id = _mixed_docs(spark)
        ids = sorted(by_id)
        pair_rows = [(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :][:9]]
        pair_rows += [(1, 95)]  # an exact copy: an edge
        pair_rows += pair_rows[:30]  # duplicates: scored once
        # endpoints with no signature row, one or both
        pair_rows += [(1, 12345), (54321, 2), (12345, 54321)]
        pairs = spark.createDataFrame(pair_rows, "src long, dst long")
        expected = {
            (a, b): _reference(by_id[a], by_id[b], cfg)
            for a, b in pair_rows
            if a in by_id and b in by_id
        }
        assert any(v[3] for v in expected.values())
        for nb in (2, 4, 16, 4096):
            rows = verify_pairs(
                pairs, docs, cfg, tile_blocks=nb, num_partitions=8
            ).collect()
            got = {
                (r.src, r.dst): (r.jaccard, r.containment, r.hamming, r.is_edge)
                for r in rows
            }
            assert len(rows) == len(got), f"nb={nb}: duplicate output pairs"
            # pairs with missing endpoints are dropped (inner-join contract)
            assert got == expected, f"nb={nb}"

    def test_tiled_failure_counter(self, spark, cfg):
        docs, _ = _mixed_docs(spark)
        pairs = spark.createDataFrame(
            [(1, 97), (98, 2), (1, 2), (1, 97)], "src long, dst long"
        )
        for kwargs in ({}, {"tile_blocks": 4}):
            acc = spark.sparkContext.accumulator(0)
            verify_pairs(pairs, docs, cfg, failure_counter=acc, **kwargs).collect()
            assert acc.value == 2, kwargs

    def test_tiled_both_empty_exact_is_edge(self, spark, cfg):
        empty = bytearray(sketch_to_bytes(np.array([], dtype=np.int64)))
        docs = spark.createDataFrame(
            [(1, empty, 0, [0, 0, 0, 0]), (2, empty, 0, [0, 0, 0, 0])],
            _SIG_SCHEMA,
        )
        pairs = spark.createDataFrame([(1, 2)], "src long, dst long")
        for kwargs in ({}, {"tile_blocks": 2}):
            out = verify_pairs(pairs, docs, cfg, **kwargs).collect()
            assert len(out) == 1
            assert out[0].jaccard == 1.0 and out[0].containment == 1.0
            assert out[0].is_edge is True and out[0].hamming == 0


class TestInputBytes:
    def test_plan_estimate_sizes_the_tiles(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(i, f"doc {i}" * 50) for i in range(200)], "doc_id long, content string"
        )
        path = str(tmp_path / "scan")
        df.repartition(3).write.parquet(path)
        part_bytes = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.startswith("part-")
        )
        scan = spark.read.parquet(path)
        assert _input_bytes(scan) == part_bytes
        assert _input_bytes(scan.where(F.col("doc_id") > 5)) == part_bytes
        # no file scan behind the frame: the at-scale tile count
        for frame in (df, spark.range(1000), scan.unionByName(df)):
            in_bytes = _input_bytes(frame)
            assert isinstance(in_bytes, int)
            assert tile_count(in_bytes) == TILE_MAX_BLOCKS

    def test_cached_frame_sized_from_its_scan(self, spark, tmp_path):
        """Filling a cache changes the frame's own plan statistics to the
        in-memory size; the probe reads the scan underneath, so one
        input gets one size whenever it is asked."""
        path = str(tmp_path / "scan")
        spark.range(500).selectExpr("id", "repeat('x', 40) s").write.parquet(path)
        expected = _input_bytes(spark.read.parquet(path))
        frames = (
            spark.read.parquet(path).cache(),
            spark.createDataFrame([(1, "a")], "id long, s string").cache(),
        )
        before = [_input_bytes(f) for f in frames]
        for f in frames:
            f.count()
        after = [_input_bytes(f) for f in frames]
        for f in frames:
            f.unpersist()
        assert before == after == [expected, 2**63 - 1]


class TestInlinePairExpansion:
    def _banded(self, spark, seed=3):
        """Bucket table exercising plain, salted (> salt_threshold=8)
        and overflow (> 200) routes under the test config."""
        rng = np.random.RandomState(seed)
        rows = []
        # plain buckets of size 2..8
        for b in range(30):
            members = rng.choice(10_000, size=int(rng.randint(2, 9)), replace=False)
            for m in members:
                rows.append((b % 5, int(b), int(m)))
        # salted bucket (size 40 > salt_threshold=8)
        for m in rng.choice(10_000, size=40, replace=False):
            rows.append((7, 777, int(m)))
        # overflow bucket (size 250 > bucket_overflow_cap=200) — dropped
        for m in rng.choice(10_000, size=250, replace=False):
            rows.append((9, 999, int(m)))
        # singletons
        for b in range(50):
            rows.append((11, 5000 + b, int(rng.randint(0, 10_000))))
        return spark.createDataFrame(rows, "band_id int, band_hash long, doc_id long")

    def test_pair_set_matches_bruteforce(self, spark, cfg):
        banded = self._banded(spark)
        pairs, routed = lsh.candidate_pairs(banded, cfg, num_partitions=8)
        got = {(r.src, r.dst) for r in pairs.collect()}
        # brute-force expected set from the raw bucket table
        rows = banded.collect()
        buckets: dict = {}
        for r in rows:
            buckets.setdefault((r.band_id, r.band_hash), set()).add(r.doc_id)
        expected = set()
        for members in buckets.values():
            if 2 <= len(members) <= cfg.bucket_overflow_cap:
                ms = sorted(members)
                for i in range(len(ms)):
                    for j in range(i + 1, len(ms)):
                        expected.add((ms[i], ms[j]))
        assert got == expected
        # routing census unchanged
        routes = {
            (r.band_id, r.band_hash): r.route
            for r in routed.collect()
            if r.route != "singleton"
        }
        assert routes[(7, 777)] == "salted"
        assert routes[(9, 999)] == "overflow"
        assert all(v == "plain" for k, v in routes.items() if k[1] < 100)
