"""Stage-2 candidate verification (the RMS-verifier analog).

The reference never trusts the perceptual signature alone: dHash
candidates within Hamming ≤ 20 are re-verified with a pixel RMS
difference, and any failure yields ``inf`` — the safe "don't merge"
default (/root/reference/photo_dedup/hasher.py:238-298, esp. 283-293;
consumed at scanner.py:382-395).

Our verifier works on **per-doc shingle sketches**, not content: the
signature stage stores a mod-2^b sparsified shingle set per document
(functions/signatures.py ``sketch_py``), so verify moves a few KB per
doc instead of the full text — re-shingling content per pair would
stream O(pairs × content) bytes through the shuffle and the Arrow
boundary, which measured 20-30× slower at bench scale and, at 100 TB,
would dwarf every other stage.  Docs under the sketch cap are stored
exactly, so the estimate degenerates to true Jaccard for typical source
files; giants estimate with ~1/sqrt(k) error.

Per pair we compute:
  * sketch Jaccard (stage-2 verify, RMS analog),
  * sketch containment of the smaller set (north-rule substring check
    for truncated/vendored copies),
  * 256-bit SimHash Hamming — popcount of the xor'd signature words.

An edge survives iff ``jaccard >= τ`` OR ``containment >= τ_c``; the
Hamming path is candidate-generation only (mirrors the reference where
dHash proposes and RMS disposes).  A pair whose sketch is missing or
corrupt yields a counted non-match verdict (the ``inf`` contract).

Pairs are scored block-tiled (round 6): docs hash into ``nb`` blocks, a
pair lands in the unordered tile {blk(src), blk(dst)}, and each doc's
sketch ships ONCE per tile it participates in — the distinct (doc,
tile) replicas, never more than 2×pairs.  Attaching both sketches to
every candidate row instead moved 8.8M sketch copies (~18 GB through
two exchanges, the flagship's dominant cost) at bench sf1.0, where the
tiles ship 656k: a 13× byte cut.  Inside a tile the pairs are scored
by one per-pair searchsorted kernel through a doc-indexed gather.
Per-tile memory is bounded by the two blocks' sketch volume, which
:func:`tile_count` keeps roughly constant as the corpus grows.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from photo_dedup_spark.config import DEFAULT_CONFIG, DedupConfig


# Tile blocks: one per TILE_BLOCK_BYTES of input, clamped to
# [TILE_MIN_BLOCKS, TILE_MAX_BLOCKS].  An input with no file scan behind
# it reads as Long.MaxValue and gets the maximum.
TILE_BLOCK_BYTES = 256 * 1024 * 1024
TILE_MIN_BLOCKS = 16
TILE_MAX_BLOCKS = 4096


def tile_count(in_bytes: int) -> int:
    """Tile blocks for an input of *in_bytes* scan bytes, so the
    per-tile sketch volume stays roughly constant as the corpus grows."""
    return min(TILE_MAX_BLOCKS, max(TILE_MIN_BLOCKS, in_bytes // TILE_BLOCK_BYTES))


def _inter_count(ua: np.ndarray, ub: np.ndarray) -> int:
    """|A ∩ B| of two sorted, duplicate-free arrays: the smaller probed
    into the larger with one ``searchsorted`` — O(min·log max).  Sorting
    every element of a whole batch instead (O(E log E)) measured 160
    µs/pair against 13 µs/pair on the bench-shaped workload."""
    sm, bg = (ua, ub) if ua.size <= ub.size else (ub, ua)
    pos = np.searchsorted(bg, sm)
    hit = pos < bg.size
    return int(np.count_nonzero(bg[pos[hit]] == sm[hit]))


def _score_prepared(
    n: int,
    ok: np.ndarray,
    lens_a: np.ndarray,
    lens_b: np.ndarray,
    vals_a: list,
    vals_b: list,
    both_empty_exact: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """(jaccard, containment) for one chunk of a tile's pairs.

    *vals_a*/*vals_b* hold the level-cut sketches of the ``ok`` pairs,
    in order.  Bit-identical to ``sketch_overlap_py``: the same integer
    counts and one float64 division per pair.
    """
    jac = np.zeros(n, dtype=np.float64)
    con = np.zeros(n, dtype=np.float64)
    if vals_a:
        inter = np.zeros(n, dtype=np.int64)
        inter[np.flatnonzero(ok)] = [_inter_count(a, b) for a, b in zip(vals_a, vals_b)]
        union = lens_a + lens_b - inter
        small = np.minimum(lens_a, lens_b)
        with np.errstate(divide="ignore", invalid="ignore"):
            jac = np.where(ok, inter / union, 0.0)
            con = np.where(ok, inter / small, 0.0)
    jac[both_empty_exact] = 1.0
    con[both_empty_exact] = 1.0
    return jac, con


def _level_cut(u: np.ndarray, b: int, lvl: int) -> np.ndarray:
    """Filter a sorted uint64 sketch from level *b* to coarser *lvl*
    via the prefix cut (sketches are stored ascending)."""
    if b < lvl:
        cut = np.uint64(1) << np.uint64(64 - lvl)
        return u[: np.searchsorted(u, cut)]
    return u


def _tiled(
    pairs: DataFrame,
    docs: DataFrame,
    tile_blocks: int,
    num_partitions: int | None,
    score: Callable[..., pd.DataFrame],
    schema: str,
) -> DataFrame:
    """The block-tiled gather (module docstring) behind :func:`verify_pairs`.

    *docs* is (doc_id, payload...).  Each tile gets the *docs* rows its
    pairs need, sorted by doc_id, and its distinct (src, dst) pairs — a
    pair lives in exactly one tile, so tile-local dedup is global dedup
    and the pair table needs no distinct() shuffle.  Pairs with an
    endpoint that has no *docs* row are dropped (inner-join semantics).
    ``score(rows, src, dst, ia, ib)`` returns the tile's output rows
    (*schema*); ``ia``/``ib`` are the endpoints' positions in *rows*.
    """
    nb = max(2, int(tile_blocks))
    blk_s = F.pmod(F.xxhash64("src"), F.lit(nb))
    blk_d = F.pmod(F.xxhash64("dst"), F.lit(nb))
    # The tile-keyed pair table is consumed twice (replica derivation +
    # the cogroup's pair side); a lazy localCheckpoint runs the
    # candidate-generation lineage exactly ONCE and the stored rows are
    # 32 B each — without it the whole LSH self-join chain re-executes
    # per consumer (measured 3× at bench sf1.0).
    pt = pairs.select(
        F.least(blk_s, blk_d).alias("t1"),
        F.greatest(blk_s, blk_d).alias("t2"),
        "src",
        "dst",
    ).localCheckpoint(eager=False)
    # minimal replication: exactly the distinct (doc, tile) pairs that
    # some candidate needs — never block-wide fan-out, so replicas are
    # bounded by 2×pairs even in the fully sparse regime
    need = (
        pt.select("t1", "t2", F.col("src").alias("doc_id"))
        .unionByName(pt.select("t1", "t2", F.col("dst").alias("doc_id")))
        .distinct()
    )
    # COGROUPED map, not a unioned frame: each side keeps its own
    # schema, so the 64-bit ids never pass through a nullable pandas
    # column (a nulls-bearing bigint column decays to float64 and
    # silently corrupts xxhash-range ids above 2^53).  Both sides
    # descend from `pt`, so the pair side renames its tile keys to give
    # the two children distinct attribute ids (cogroup matches keys
    # positionally, not by name).
    left_side = need.join(docs, "doc_id")
    right_side = pt.select(
        F.col("t1").alias("u1"), F.col("t2").alias("u2"), "src", "dst"
    )
    if num_partitions:
        # explicit width is immune to AQE size-based coalescing, which
        # under-parallelizes Python-CPU-heavy stages (same rationale as
        # operators/repsplit.py); the repartition satisfies the
        # cogroup clustering requirement so no second exchange
        left_side = left_side.repartition(num_partitions, "t1", "t2")
        right_side = right_side.repartition(num_partitions, "u1", "u2")

    def _tile(drows: pd.DataFrame, prs: pd.DataFrame) -> pd.DataFrame:
        ids = drows["doc_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        both = np.unique(prs[["src", "dst"]].to_numpy(dtype=np.int64), axis=0)
        src, dst = both[:, 0], both[:, 1]
        pos_s = np.searchsorted(ids, src)
        pos_d = np.searchsorted(ids, dst)
        present = (pos_s < ids.size) & (pos_d < ids.size)
        present[present] = (ids[pos_s[present]] == src[present]) & (
            ids[pos_d[present]] == dst[present]
        )
        return score(
            drows.iloc[order],
            src[present],
            dst[present],
            pos_s[present],
            pos_d[present],
        )

    return (
        left_side.groupBy("t1", "t2")
        .cogroup(right_side.groupBy("u1", "u2"))
        .applyInPandas(lambda left, right: _tile(left, right), schema)
    )


# pair-scoring chunk inside a tile task: bounds the per-chunk gather
# (8192 pairs × 2 sketch views + the scoring arrays) regardless of how
# many candidate pairs one tile holds
_TILE_PAIR_CHUNK = 8192


def verify_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    failure_counter=None,
    tile_blocks: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Score candidate (src, dst) pairs against per-doc (sketch,
    sketch_b, simhash) rows: one row per distinct pair whose endpoints
    both have a *docs* row — (src, dst, jaccard, containment, hamming,
    is_edge).  ``hamming`` is null when either simhash is.

    *tile_blocks* sets the block count of the tiling (module
    docstring); the pipeline sizes it with :func:`tile_count`, other
    callers get ``TILE_MIN_BLOCKS``.  *failure_counter*:
    optional Spark accumulator — per-pair verifier failures are
    COUNTED, not just swallowed (the reference counts per-item errors
    while dropping them, scanner.py:471-479 / A5).
    """
    tau_j = float(cfg.jaccard_threshold)
    tau_c = float(cfg.containment_threshold)
    n_words = cfg.simhash_words

    def _score(rows, src_all, dst_all, ia_all, ib_all) -> pd.DataFrame:
        from photo_dedup_spark.functions.signatures import popcount64

        # doc-indexed signature table: per-doc sketch views and an
        # (n_docs × words) simhash matrix — the per-pair work below is
        # vectorized numpy except each pair's sketch cut and intersection
        sk_raw = rows["sketch"].to_numpy()
        b_raw = rows["sketch_b"].to_numpy()
        sim_raw = rows["simhash"].to_numpy()
        m = len(rows)
        sk_list: list = [None] * m
        b_arr = np.full(m, -1, dtype=np.int64)  # -1 = missing sketch
        sim_mat = np.zeros((m, n_words), dtype=np.int64)
        sim_ok = np.zeros(m, dtype=bool)
        for i in range(m):
            skb, b = sk_raw[i], b_raw[i]
            if skb is not None and b is not None and b == b:
                try:
                    u = np.frombuffer(skb, dtype="<i8").view(np.uint64)
                    sk_list[i] = u
                    b_arr[i] = int(b)
                except Exception:
                    # corrupt sketch bytes: every pair touching this doc
                    # fails safely (hasher.py:283-293 inf contract) —
                    # its simhash below still feeds hamming
                    pass
            sim = sim_raw[i]
            if sim is not None:
                sim_mat[i] = np.asarray(sim, dtype=np.int64)
                sim_ok[i] = True
        sim_mat_u = sim_mat.view(np.uint64)

        out_frames = []
        failures = 0
        # at least one (possibly empty) chunk, so an empty tile still
        # returns typed columns
        for s0 in range(0, max(len(src_all), 1), _TILE_PAIR_CHUNK):
            sl = slice(s0, s0 + _TILE_PAIR_CHUNK)
            ia, ib = ia_all[sl], ib_all[sl]
            n = len(ia)
            ham = np.full(n, np.nan)
            both_sim = sim_ok[ia] & sim_ok[ib]
            if both_sim.any():
                ham[both_sim] = popcount64(
                    sim_mat_u[ia[both_sim]] ^ sim_mat_u[ib[both_sim]]
                ).sum(axis=1)
            ba, bb = b_arr[ia], b_arr[ib]
            fail = (ba < 0) | (bb < 0)  # missing sketch → safe (0,0)
            failures += int(fail.sum())
            lvl = np.maximum(ba, bb)
            # both sketches cut to the pair's coarser level
            lens_a = np.zeros(n, dtype=np.int64)
            lens_b = np.zeros(n, dtype=np.int64)
            vals_a: list[np.ndarray] = []
            vals_b: list[np.ndarray] = []
            for i in np.flatnonzero(~fail):
                li = int(lvl[i])
                ua = _level_cut(sk_list[ia[i]], int(ba[i]), li)
                ub = _level_cut(sk_list[ib[i]], int(bb[i]), li)
                lens_a[i], lens_b[i] = ua.size, ub.size
                if ua.size and ub.size:
                    vals_a.append(ua)
                    vals_b.append(ub)
            both_empty_exact = ~fail & (lvl == 0) & (lens_a == 0) & (lens_b == 0)
            ok = ~fail & (lens_a > 0) & (lens_b > 0)
            jac, con = _score_prepared(
                n, ok, lens_a, lens_b, vals_a, vals_b, both_empty_exact
            )
            # masked IntegerArray directly — a Python-object null column
            # at millions of rows costs seconds of pure boxing
            ham_vals = np.nan_to_num(ham).astype(np.int32)
            out_frames.append(
                pd.DataFrame(
                    {
                        "src": src_all[sl],
                        "dst": dst_all[sl],
                        "jaccard": jac,
                        "containment": con,
                        "hamming": pd.arrays.IntegerArray(
                            ham_vals, mask=np.isnan(ham)
                        ),
                        "is_edge": (jac >= tau_j) | (con >= tau_c),
                    }
                )
            )
        if failures and failure_counter is not None:
            failure_counter.add(failures)
        return pd.concat(out_frames, ignore_index=True)

    return _tiled(
        pairs,
        docs.select("doc_id", "sketch", "sketch_b", "simhash"),
        tile_blocks or TILE_MIN_BLOCKS,
        num_partitions,
        _score,
        "src long, dst long, jaccard double, containment double,"
        " hamming int, is_edge boolean",
    )
