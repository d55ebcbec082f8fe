"""MinHash + SimHash signatures as vectorized pandas/Arrow UDFs.

These replace the reference's perceptual signature layer:
  * ``get_dhash`` — 256-bit dHash, resolution-invariant by construction
    (/root/reference/photo_dedup/hasher.py:175-224) → :func:`simhash_udf`
    (256-bit SimHash over char shingles of normalized content —
    formatting-invariant by shingling normalized text), and
  * the BK-tree searchability of those signatures (scanner.py:232-283)
    → MinHash signatures banded for LSH (:func:`minhash_udf` +
    operators/lsh.py), the Spark-native sub-quadratic candidate search.

Everything is numpy over Arrow batches — no per-row Python (input_hint).
Shingle hashing uses a polynomial rolling hash over UTF-8 bytes computed
with a single uint64 mat-vec per window batch; MinHash permutations use
multiply-shift hashing (wrapping uint64 multiply, top 32 bits), chunked
so memory stays bounded for oversize documents.

The same math is exposed in pure Python+numpy (``*_py``) for the
sequential oracle and golden tests — bit-identical to the UDF output.
"""

from __future__ import annotations

import functools
import sys

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from photo_dedup_spark.config import DEFAULT_CONFIG, DedupConfig

# ---------------------------------------------------------------------------
# deterministic hash-family parameters (seeded; part of the frozen config)
# ---------------------------------------------------------------------------

_SEED = 42
_POLY_BASE = np.uint64(1099511628211)  # FNV prime, used as polynomial base
_BIG_ENDIAN = sys.byteorder == "big"

_POPCNT_LUT = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def popcount64(arr: np.ndarray) -> np.ndarray:
    """Per-element popcount of a uint64/int64 array (numpy<2 compatible)."""
    as_bytes = np.ascontiguousarray(arr).view(np.uint8).reshape(arr.shape + (8,))
    return _POPCNT_LUT[as_bytes].sum(axis=-1).astype(np.int64)


def hamming_py(a: np.ndarray, b: np.ndarray) -> int:
    """Hamming distance between two multi-word signatures (int64 words)."""
    xa = np.asarray(a, dtype=np.int64).view(np.uint64)
    xb = np.asarray(b, dtype=np.int64).view(np.uint64)
    return int(popcount64(xa ^ xb).sum())


@functools.lru_cache(maxsize=4)
def _perm_params(n_perms: int) -> tuple[np.ndarray, np.ndarray]:
    # cached: regenerating 128 seeded multipliers per DOCUMENT was
    # ~0.28 ms/doc — 30% of the minhash kernel — for identical output
    rng = np.random.RandomState(_SEED)
    # odd multipliers for multiply-shift universal hashing
    a = rng.randint(1, 2**63, size=n_perms, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.randint(0, 2**63, size=n_perms, dtype=np.uint64)
    return a, b


@functools.lru_cache(maxsize=4)
def _simhash_mixers(n_words: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(_SEED + 1)
    a = rng.randint(1, 2**63, size=n_words, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.randint(0, 2**63, size=n_words, dtype=np.uint64)
    return a, b


def shingle_hashes(text: str, k: int) -> np.ndarray:
    """Distinct 64-bit polynomial hashes of all k-char shingles (uint64).

    Texts shorter than k yield a single hash of the whole text, so short
    documents still carry a signature (degrade, don't drop —
    hasher.py:109-119 contract).
    """
    data = text.encode("utf-8")
    b = np.frombuffer(data, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    if b.size < k:
        h = 0
        base = int(_POLY_BASE)
        for byte in b:  # python-int math, wrapped mod 2**64 at the end
            h = (h * base + int(byte) + 1) & 0xFFFFFFFFFFFFFFFF
        return np.array([h], dtype=np.uint64)
    windows = np.lib.stride_tricks.sliding_window_view(b, k)
    base = int(_POLY_BASE)
    powers = np.array(
        [pow(base, k - 1 - i, 1 << 64) for i in range(k)], dtype=np.uint64
    )
    # (+1 per byte so that NUL bytes still contribute to position);
    # blocked so the uint64-widened window temp stays L2-resident
    # (full-width astype is n×k×8 B ≈ 230 KB per 4 KB doc — DRAM
    # traffic that doesn't shrink with cores; same blocking rationale
    # as _minhash_from_shingles, bit-identical result)
    n = windows.shape[0]
    hashes = np.empty(n, dtype=np.uint64)
    global _W64_BUF
    if _W64_BUF is None or _W64_BUF.shape[1] != k:
        _W64_BUF = np.empty((_SHINGLE_CHUNK, k), dtype=np.uint64)
    for s in range(0, n, _SHINGLE_CHUNK):
        m = min(_SHINGLE_CHUNK, n - s)
        w64 = _W64_BUF[:m]  # reused buffer: no per-chunk allocator churn
        np.copyto(w64, windows[s : s + m], casting="safe")
        w64 += np.uint64(1)
        np.matmul(w64, powers, out=hashes[s : s + m])  # wraps mod 2**64
    return np.unique(hashes)


# chunk the (shingles × perms) multiply so the temporary stays
# cache-resident: the (chunk × perm-block) temp is 1024×64×8B =
# 512 KiB — a quarter of this box's 2 MiB PRIVATE per-core L2, so it
# stays core-local even with 32 concurrent python workers.  Without
# blocking, repeated full-width temporaries spill to shared L3/DRAM
# and the signature stage becomes memory-bandwidth bound: measured
# 8→32-core scaling of only ~3.0× (BENCH/SCALING.md), because DRAM
# traffic doesn't shrink with cores.  Block size 64 (up from r3's 16)
# halves the python-dispatch count per doc — 0.60 → 0.27 ms/doc
# measured — while keeping the temp well inside private L2.  Blocking
# is bit-identical — same wrapping uint64 products, same minima, just
# computed 64 permutations at a time.
_SHINGLE_CHUNK = 1024
_PERM_BLOCK = 64
_W64_BUF = None  # reused (chunk × k) shingle-window buffer


def minhash_py(text: str, cfg: DedupConfig = DEFAULT_CONFIG) -> np.ndarray:
    """128-perm MinHash signature (int32) of normalized *text*.
    Multiply-shift hashing; wrapping uint64 arithmetic is intended;
    top 31 bits → non-negative int32."""
    return _minhash_from_shingles(shingle_hashes(text, cfg.shingle_k), cfg)


def simhash_py(text: str, cfg: DedupConfig = DEFAULT_CONFIG) -> np.ndarray:
    """256-bit SimHash as ``simhash_words`` int64 words, voted over the
    verify-sketch sample of the shingle set (bit-identical to the
    pipeline's struct UDF — see make_signature_struct_udf)."""
    _, kept = sketch_py(shingle_hashes(text, cfg.shingle_k), cfg)
    return _simhash_from_shingles(kept.view(np.uint64), cfg)


def band_hashes_py(sig: np.ndarray, cfg: DedupConfig = DEFAULT_CONFIG) -> np.ndarray:
    """Collapse a MinHash signature into ``lsh_bands`` 64-bit band keys."""
    r = cfg.lsh_rows
    rows = sig.astype(np.uint64).reshape(cfg.lsh_bands, r)
    h = np.full(cfg.lsh_bands, np.uint64(1469598103934665603), dtype=np.uint64)  # FNV offset
    for j in range(r):
        h = (h ^ rows[:, j]) * _POLY_BASE
    return h.view(np.int64)


# ---------------------------------------------------------------------------
# pandas UDF factories (Arrow-batched; Series -> Series)
# ---------------------------------------------------------------------------

_VALS_BUF = None  # reused (chunk × perm-block) product buffer, see below


def _minhash_from_shingles(sh: np.ndarray, cfg: DedupConfig) -> np.ndarray:
    # The product temp is REUSED across calls via out= (module-level
    # buffer, one per worker process): a fresh 128 KiB numpy alloc per
    # perm-block sits exactly at glibc's mmap threshold, so the old
    # code paid mmap+munmap+page-zeroing ~32 times per doc — kernel
    # time that serializes across 32 concurrent workers (the measured
    # 36-51% system-time bursts; per-core kernel throughput dropped
    # 1.3-1.4x from 8 to 32 workers).  Buffer reuse keeps the temp hot
    # in the private L2 with zero allocator traffic.  Bit-identical.
    global _VALS_BUF
    a, b = _perm_params(cfg.minhash_perms)
    if sh.size == 0:
        return np.full(cfg.minhash_perms, np.iinfo(np.int32).max, dtype=np.int32)
    if _VALS_BUF is None or _VALS_BUF.shape[1] < _PERM_BLOCK:
        _VALS_BUF = np.empty((_SHINGLE_CHUNK, _PERM_BLOCK), dtype=np.uint64)
    mins = np.full(cfg.minhash_perms, np.uint64(0xFFFFFFFFFFFFFFFF), dtype=np.uint64)
    for start in range(0, sh.size, _SHINGLE_CHUNK):
        chunk = sh[start : start + _SHINGLE_CHUNK]
        col = chunk[:, None]
        n = chunk.size
        for p0 in range(0, cfg.minhash_perms, _PERM_BLOCK):
            p1 = p0 + _PERM_BLOCK
            vals = _VALS_BUF[:n, : p1 - p0]
            np.multiply(col, a[None, p0:p1], out=vals)
            vals += b[None, p0:p1]
            np.minimum(mins[p0:p1], vals.min(axis=0), out=mins[p0:p1])
    return (mins >> np.uint64(33)).astype(np.int32)


def _simhash_from_shingles(sh: np.ndarray, cfg: DedupConfig) -> np.ndarray:
    w = cfg.simhash_words
    if sh.size == 0:
        return np.zeros(w, dtype=np.int64)
    a, b = _simhash_mixers(w)
    votes = np.zeros(cfg.simhash_bits, dtype=np.int64)
    bit_idx = np.arange(64, dtype=np.uint64)
    for start in range(0, sh.size, _SHINGLE_CHUNK):
        chunk = sh[start : start + _SHINGLE_CHUNK]
        # mix all words at once, then one C-side unpackbits for all 256
        # bit positions: on a little-endian host,
        # unpackbits(x.view(u8), bitorder='little') column j IS
        # (x >> j) & 1, so this is bit-identical to the former
        # per-word broadcast-shift (which cost ~0.75 ms/doc in uint64
        # temporaries; this is ~15x cheaper and allocates n*w*8 u8)
        mixed = chunk[:, None] * a[None, :] + b[None, :]  # (n, w) u64
        if _BIG_ENDIAN:  # byteswap restores the little-endian layout
            mixed = mixed.byteswap()
        bits = np.unpackbits(
            mixed.view(np.uint8).reshape(len(chunk), w * 8),
            axis=1,
            bitorder="little",
        )
        votes += 2 * bits.sum(axis=0, dtype=np.int64) - len(chunk)
    out = np.zeros(w, dtype=np.uint64)
    for wi in range(w):
        word_bits = (votes[wi * 64 : (wi + 1) * 64] > 0).astype(np.uint64)
        out[wi] = np.bitwise_or.reduce(word_bits << bit_idx)
    return out.view(np.int64)


# ---------------------------------------------------------------------------
# verify sketch: mod-2^b sparsified shingle set (deterministic, unbiased)
# ---------------------------------------------------------------------------

def sketch_py(
    sh: np.ndarray, cfg: DedupConfig = DEFAULT_CONFIG
) -> tuple[int, np.ndarray]:
    """(level b, sorted int64 sketch) for a shingle-hash set.

    Level b keeps hashes with the top b bits zero (expected n/2^b
    survivors); b is the smallest level bringing the sketch under
    ``verify_sketch_size``.  Two sketches are comparable after
    filtering BOTH to max(b_a, b_b) — set algebra on the filtered
    universe gives an unbiased Jaccard/containment estimate with
    ~1/sqrt(k) concentration, while docs smaller than the cap are
    stored exactly (b=0 ⇒ estimator degenerates to the true value).
    """
    n = sh.size
    b = 0
    while n >> b > cfg.verify_sketch_size:
        b += 1
    if b == 0:
        kept = np.sort(sh)
    else:
        kept = np.sort(sh[sh < np.uint64(1) << np.uint64(64 - b)])
    return b, kept.view(np.int64)


def sketch_overlap_py(
    a: np.ndarray, ba: int, b_arr: np.ndarray, bb: int
) -> tuple[float, float]:
    """(jaccard_est, containment_est) from two sketches.

    Filters both to the coarser level, then exact set arithmetic on
    the common sampled universe.  Empty-after-filter ⇒ (0, 0) — the
    safe don't-merge default (reference hasher.py:283-293)."""
    ua = np.asarray(a, dtype=np.int64).view(np.uint64)
    ub = np.asarray(b_arr, dtype=np.int64).view(np.uint64)
    lvl = max(ba, bb)
    if ba < lvl:
        ua = ua[ua < np.uint64(1) << np.uint64(64 - lvl)]
    if bb < lvl:
        ub = ub[ub < np.uint64(1) << np.uint64(64 - lvl)]
    if ua.size == 0 or ub.size == 0:
        return (1.0, 1.0) if (ua.size == 0 and ub.size == 0 and lvl == 0) else (0.0, 0.0)
    inter = np.intersect1d(ua, ub, assume_unique=True).size
    union = ua.size + ub.size - inter
    small = min(ua.size, ub.size)
    return inter / union, inter / small


# sketch travels as packed little-endian int64 BYTES, not array<bigint>:
# a binary column is one memcpy through Arrow/UnsafeRow vs per-element
# conversion of a 512-entry array — the sketch is the fat field on the
# verify join, so its encoding dominates that shuffle.
# NOTE: the raw 128-perm minhash array is NOT emitted — downstream
# stages consume only its band collapse (band_hashes); shipping the
# dead array through Arrow + the checkpoint costs 512 B/rep for nothing
SIGNATURE_STRUCT = (
    "struct<simhash: array<bigint>, band_hashes: array<bigint>, "
    "sketch: binary, sketch_b: int>"
)


def sketch_to_bytes(kept: np.ndarray) -> bytes:
    return np.ascontiguousarray(kept, dtype="<i8").tobytes()


def sketch_from_bytes(raw: bytes) -> np.ndarray:
    return np.frombuffer(raw, dtype="<i8")


def make_signature_struct_udf(cfg: DedupConfig = DEFAULT_CONFIG):
    """ONE pandas UDF computing struct(minhash, simhash, band_hashes)
    from normalized content — shingles are computed once and shared by
    both signatures (vs 3 separate UDF passes: 1 shingling, 1 Arrow
    content transfer instead of 2 of each)."""

    def _sign(content: pd.Series) -> pd.DataFrame:
        sh_out, bands, sk, skb = [], [], [], []
        for t in content:
            if t is None:
                sh_out.append(None)
                bands.append(None)
                sk.append(None)
                skb.append(None)
                continue
            sh = shingle_hashes(t, cfg.shingle_k)
            m = _minhash_from_shingles(sh, cfg)
            bands.append(band_hashes_py(m, cfg).tolist())
            b, kept = sketch_py(sh, cfg)
            sk.append(sketch_to_bytes(kept))
            skb.append(b)
            # SimHash votes over the (uniformly sampled) sketch set —
            # a majority vote over a random sample preserves every bit
            # with a clear margin and only flips coin-flip bits, while
            # cutting the dominant O(n·256) bit-voting cost to O(k·256)
            sh_out.append(
                _simhash_from_shingles(kept.view(np.uint64), cfg).tolist()
            )
        return pd.DataFrame(
            {
                "simhash": sh_out,
                "band_hashes": bands,
                "sketch": sk,
                "sketch_b": skb,
            }
        )

    return F.pandas_udf(_sign, SIGNATURE_STRUCT)


def make_minhash_simhash_udf(cfg: DedupConfig = DEFAULT_CONFIG):
    """ONE pandas UDF → struct(minhash array<int>, simhash
    array<bigint>): shingles are computed once and feed both signatures
    — one Arrow transfer of normalized content instead of the former
    3-UDF shim's three (VERDICT r3 #6).  Values are bit-identical to
    :func:`minhash_py` / :func:`simhash_py` (same kernels, same
    sketch-sampled SimHash vote)."""

    def _sign(content: pd.Series) -> pd.DataFrame:
        mh, sh_out = [], []
        for t in content:
            if t is None:
                mh.append(None)
                sh_out.append(None)
                continue
            sh = shingle_hashes(t, cfg.shingle_k)
            mh.append(_minhash_from_shingles(sh, cfg).tolist())
            _, kept = sketch_py(sh, cfg)
            sh_out.append(_simhash_from_shingles(kept.view(np.uint64), cfg).tolist())
        return pd.DataFrame({"minhash": mh, "simhash": sh_out})

    return F.pandas_udf(
        _sign, "minhash array<int>, simhash array<bigint>"
    )


# Oracle-side helper: true Jaccard of shingle sets (used by the
# sequential oracle and the verify stage's python twin).
def jaccard_py(a: str, b: str, cfg: DedupConfig = DEFAULT_CONFIG) -> float:
    sa = shingle_hashes(a, cfg.shingle_k)
    sb = shingle_hashes(b, cfg.shingle_k)
    if sa.size == 0 and sb.size == 0:
        return 1.0
    if sa.size == 0 or sb.size == 0:
        return 0.0
    inter = np.intersect1d(sa, sb, assume_unique=True).size
    return inter / float(sa.size + sb.size - inter)


def containment_py(a: str, b: str, cfg: DedupConfig = DEFAULT_CONFIG) -> float:
    """max containment of the smaller shingle set in the larger one."""
    sa = shingle_hashes(a, cfg.shingle_k)
    sb = shingle_hashes(b, cfg.shingle_k)
    if sa.size == 0 or sb.size == 0:
        return 0.0
    small, big = (sa, sb) if sa.size <= sb.size else (sb, sa)
    inter = np.intersect1d(small, big, assume_unique=True).size
    return inter / float(small.size)
