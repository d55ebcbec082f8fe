"""Property-based tests (hypothesis) over the engine's pure kernels.

The reference's test strategy (SURVEY §5) is example-based
(test_core.py's fixed fixtures); these add adversarial-input coverage
that examples can't enumerate — arbitrary unicode through the
normalizer, arbitrary bit patterns through the Hamming/popcount
kernels, and the algebraic laws the sketch/signature math must hold
for the verify stage's estimates to be trustworthy:

* normalization is idempotent and leaves no trailing whitespace;
* Hamming is a metric (identity / symmetry / triangle inequality)
  and agrees with python-int ``bit_count`` bit-for-bit;
* every substring's shingle set is contained in its source's —
  ``containment_py == 1.0`` EXACTLY, the law the substring-containment
  operator (J8) relies on;
* MinHash is a min-union homomorphism: ``sig(A ∪ B) ==
  elementwise-min(sig(A), sig(B))`` — the defining MinHash property,
  which is what makes the Jaccard estimate unbiased;
* bottom-b sketches pick the minimal level, round-trip through their
  byte encoding, and degenerate to EXACT Jaccard/containment when the
  doc fits the cap (b == 0) — the "small docs are stored exactly"
  contract of operators/verify.py;
* band collapse is local: bands over unchanged signature rows are
  unchanged (the LSH guarantee that an edit only perturbs the bands
  it touches).

All runs are derandomized (fixed example corpus per test) so CI is
deterministic; no Spark session is needed — these kernels are the
exact code the pandas UDF workers execute.
"""

from __future__ import annotations

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from photo_dedup_spark.config import DEFAULT_CONFIG
from photo_dedup_spark.functions.normalize import normalize_py
from photo_dedup_spark.functions.signatures import (
    _minhash_from_shingles,
    band_hashes_py,
    containment_py,
    hamming_py,
    jaccard_py,
    popcount64,
    shingle_hashes,
    sketch_from_bytes,
    sketch_overlap_py,
    sketch_py,
    sketch_to_bytes,
)

CFG = DEFAULT_CONFIG
_SETTINGS = dict(
    derandomize=True,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

texts = st.text(max_size=300)
words4 = st.lists(
    st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=4, max_size=4
)


class TestNormalizeProperties:
    @settings(**_SETTINGS)
    @given(texts)
    def test_idempotent_and_no_trailing_ws(self, s):
        one = normalize_py(s)
        assert normalize_py(one) == one
        assert "\r" not in one
        assert not one.endswith((" ", "\t", "\n"))
        for line in one.split("\n"):
            assert not line.endswith((" ", "\t"))

    @settings(**_SETTINGS)
    @given(texts)
    def test_normalization_only_removes(self, s):
        # normalization never invents content: the normalized form of a
        # CRLF rendering equals the normalized form of the LF original
        assert normalize_py(s.replace("\n", "\r\n")) == normalize_py(s)


class TestHammingProperties:
    @settings(**_SETTINGS)
    @given(words4, words4, words4)
    def test_metric_laws(self, a, b, c):
        A = np.array(a, dtype=np.int64)
        B = np.array(b, dtype=np.int64)
        C = np.array(c, dtype=np.int64)
        assert hamming_py(A, A) == 0
        assert hamming_py(A, B) == hamming_py(B, A)
        assert hamming_py(A, C) <= hamming_py(A, B) + hamming_py(B, C)
        if a != b:
            assert hamming_py(A, B) > 0

    @settings(**_SETTINGS)
    @given(st.lists(st.integers(0, 2**64 - 1), min_size=1, max_size=16))
    def test_popcount_vs_python_int(self, vals):
        arr = np.array(vals, dtype=np.uint64)
        assert popcount64(arr).tolist() == [v.bit_count() for v in vals]


class TestShingleSetAlgebra:
    @settings(**_SETTINGS)
    @given(st.text(min_size=CFG.shingle_k, max_size=300), st.data())
    def test_substring_containment_is_exactly_one(self, s, data):
        """Every k-gram of s[i:j] is a k-gram of s, so the smaller
        shingle set is fully contained — the law q_substring_pairs'
        verify leg (J8) is built on."""
        k = CFG.shingle_k
        i = data.draw(st.integers(0, len(s) - k))
        j = data.draw(st.integers(i + k, len(s)))
        assert containment_py(s[i:j], s) == 1.0

    @settings(**_SETTINGS)
    @given(texts, texts)
    def test_jaccard_bounds_symmetry_identity(self, a, b):
        jab = jaccard_py(a, b)
        assert 0.0 <= jab <= 1.0
        assert jab == jaccard_py(b, a)
        assert jaccard_py(a, a) == 1.0

    @settings(max_examples=25, **_SETTINGS)
    @given(
        st.text(min_size=1, max_size=200), st.text(min_size=1, max_size=200)
    )
    def test_minhash_is_min_union_homomorphism(self, a, b):
        """sig(A ∪ B) == min(sig(A), sig(B)) elementwise — the defining
        MinHash law; this is what makes P[sig_i(A)==sig_i(B)] equal the
        Jaccard similarity, i.e. the estimator unbiased."""
        sa = shingle_hashes(a, CFG.shingle_k)
        sb = shingle_hashes(b, CFG.shingle_k)
        u = np.union1d(sa, sb)
        sig_u = _minhash_from_shingles(u, CFG)
        sig_min = np.minimum(
            _minhash_from_shingles(sa, CFG), _minhash_from_shingles(sb, CFG)
        )
        assert (sig_u == sig_min).all()


unique_hashes = st.lists(
    st.integers(0, 2**64 - 1), min_size=1, max_size=3000, unique=True
)
small_hashes = st.lists(
    st.integers(0, 2**64 - 1),
    min_size=1,
    max_size=CFG.verify_sketch_size,
    unique=True,
)


class TestSketchProperties:
    @settings(**_SETTINGS)
    @given(unique_hashes)
    def test_minimal_level_and_byte_roundtrip(self, vals):
        sh = np.array(vals, dtype=np.uint64)
        b, kept = sketch_py(sh, CFG)
        cap = CFG.verify_sketch_size
        assert (len(vals) >> b) <= cap
        assert b == 0 or (len(vals) >> (b - 1)) > cap
        if b > 0:
            assert (kept.view(np.uint64) < np.uint64(1) << np.uint64(64 - b)).all()
        assert (sketch_from_bytes(sketch_to_bytes(kept)) == kept).all()
        if kept.size:
            assert sketch_overlap_py(kept, b, kept, b) == (1.0, 1.0)

    @settings(**_SETTINGS)
    @given(small_hashes, small_hashes)
    def test_small_docs_estimate_exactly(self, a_vals, b_vals):
        """Below the cap both sketches sit at level 0 — the estimator
        must DEGENERATE to the true Jaccard/containment (the 'small
        docs are stored exactly' contract of the verify stage)."""
        sa, sb = set(a_vals), set(b_vals)
        ba, ka = sketch_py(np.array(a_vals, dtype=np.uint64), CFG)
        bb, kb = sketch_py(np.array(b_vals, dtype=np.uint64), CFG)
        assert ba == 0 and bb == 0
        jac, cont = sketch_overlap_py(ka, ba, kb, bb)
        inter = len(sa & sb)
        assert jac == inter / len(sa | sb)
        assert cont == inter / min(len(sa), len(sb))


class TestBandLocality:
    @settings(max_examples=25, **_SETTINGS)
    @given(
        st.lists(
            st.integers(0, 2**32 - 1),
            min_size=CFG.minhash_perms,
            max_size=CFG.minhash_perms,
        ),
        st.integers(0, CFG.lsh_bands - 1),
        st.integers(1, 2**32 - 1),
    )
    def test_editing_one_band_leaves_others_unchanged(self, sig, band, delta):
        """LSH's locality guarantee: a change confined to one band's
        rows can only change that band's key."""
        a = np.array(sig, dtype=np.uint64)
        b = a.copy()
        r = CFG.lsh_rows
        b[band * r] = (b[band * r] + delta) % (2**32)
        ha, hb = band_hashes_py(a, CFG), band_hashes_py(b, CFG)
        mask = np.ones(CFG.lsh_bands, dtype=bool)
        mask[band] = False
        assert (ha[mask] == hb[mask]).all()
        # equal signatures collapse to equal keys (determinism)
        assert (band_hashes_py(a.copy(), CFG) == ha).all()


class TestSuffixArrayProperties:
    @settings(**_SETTINGS)
    @given(st.binary(max_size=400))
    def test_is_sorted_permutation_of_suffixes(self, data):
        from photo_dedup_spark.functions.suffixarray import suffix_array

        sa = suffix_array(data)
        n = len(data)
        assert sorted(sa.tolist()) == list(range(n))
        suffixes = [data[i:] for i in sa]
        assert suffixes == sorted(suffixes)

    @settings(**_SETTINGS)
    @given(st.binary(min_size=1, max_size=300), st.binary(max_size=8), st.data())
    def test_find_agrees_with_bytes_in(self, text, needle, data):
        """sa_find's containment verdict == python `in`, for both a
        randomly drawn needle (usually absent) and a planted slice
        (always present) — the exactness the SA verify leg claims."""
        from photo_dedup_spark.functions.suffixarray import sa_find, suffix_array

        sa = suffix_array(text)
        pos = sa_find(text, sa, needle)
        assert (pos >= 0) == (needle in text)
        if pos >= 0:
            assert text[pos : pos + len(needle)] == needle
        i = data.draw(st.integers(0, len(text) - 1))
        j = data.draw(st.integers(i, len(text)))
        planted = text[i:j]
        assert sa_find(text, sa, planted) >= 0
