"""Frozen signature/shingle configuration.

The reference pins its perceptual-match envelope with module constants
(``DHASH_SIZE=16`` → 256-bit signature, ``HAMMING_THRESHOLD=20``,
``RMS_THRESHOLD=8.0``, ``MAX_IMAGE_PIXELS=60_000_000``; see
/root/reference/photo_dedup/hasher.py:28-40) and persists the settings
dict into every report (scanner.py:869-876).  We mirror that with a
frozen dataclass whose hash is stamped into every checkpoint and report
— the "fixed shingle/signature config" of the north rule.

Every field but three defines results: which files group together and
which one is kept.  The three plan-shape fields at the end stay only
because the benchmark's traced workloads read or set them.  Other
plan-shape decisions (pair-stage width, verify tile count, CC check
cadence, shuffle and Arrow batch sizes) are constants next to their
one reader, so tuning them leaves ``config_hash()`` — and every staged
checkpoint — as it was.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    # --- signature layer (analog of hasher.py constants) ---
    shingle_k: int = 7              # char shingles on normalized content
    minhash_perms: int = 128        # MinHash signature length
    lsh_bands: int = 32             # b
    lsh_rows: int = 4               # r  (b*r must equal minhash_perms)
    simhash_bits: int = 256         # = DHASH_SIZE**2 in the reference (hasher.py:32)
    hamming_threshold: int = 20     # = HAMMING_THRESHOLD (hasher.py:36)
    jaccard_threshold: float = 0.70 # stage-2 verify, analog of RMS_THRESHOLD (hasher.py:40)
    containment_threshold: float = 0.90  # north-rule substring-containment verify
    # verify-sketch: mod-2^b sparsified shingle set kept per doc; the
    # verifier intersects sketches instead of re-shingling full content
    # (which would move O(pairs × content) bytes through the pair join).
    # 512 entries = 4 KB binary per doc; estimator σ ≈ sqrt(j(1-j)/k)
    # ≈ 2% at the τ=0.7 boundary — docs under the cap are stored exactly
    verify_sketch_size: int = 512
    # --- degrade-don't-drop caps (analog of MAX_IMAGE_PIXELS, hasher.py:28) ---
    content_cap_chars: int = 2 * 1024 * 1024  # oversize rows keep exact key only
    # --- skew handling (north rule: explicit salting of hot LSH buckets) ---
    salt_threshold: int = 1024      # bucket size above which pair-gen is salted
    num_salts: int = 16             # salt cells per hot bucket
    bucket_overflow_cap: int = 200_000  # beyond this: exact-only + logged drop
    # --- rep-verify split (scanner.py:382-395 representative pattern) ---
    # components larger than this are hierarchically pre-bucketed by
    # SimHash prefix before the greedy (logged metric) — a boilerplate
    # megacomponent must not funnel into one Python task.  The greedy's
    # worst case is quadratic in its group size, so the hard per-task
    # bound is this cap (a just-under-cap all-dissimilar group is
    # ~cap²/2 sketch overlaps ≈ minutes, not hours).
    split_max_component: int = 10_000
    # expected members per SimHash-prefix bucket inside an oversized
    # component: prefix bits = clamp(ceil(log2(n/target)), 1, 16).
    # Fewer bits keep true near-dups together (expected differing
    # prefix bits ≈ hamming_threshold·bits/simhash_bits); the cap above
    # still bounds any skewed bucket.
    split_bucket_target: int = 2_048
    # cross-bucket founder stitch (r4 VERDICT "what's wrong" #3): after
    # prefix-bucketed splitting, subgroup FOUNDERS of oversized
    # components re-enter the LSH candidate engine, verified founder
    # pairs replay the oracle-order greedy, and matching subgroups
    # merge — recovering the members a flipped prefix bit scattered.
    # Founders ≪ members (≈ n / split_bucket_target), so the stitch is
    # bounded; past the cap it is skipped (degrade-don't-drop, logged).
    split_stitch: bool = True
    split_stitch_max_founders: int = 500_000
    # --- execution ---
    cc_max_iters: int = 50
    # --- plan shape (fields only while perfbench's traced workloads
    # read or set them; they leave with ROADMAP item 4) ---
    # Re-attaching content to group representatives joins the raw scan
    # (huge, content-bearing) to the content-free rep table.  Left to
    # AQE, the conversion to a broadcast join happens only AFTER both
    # sides have shuffled — i.e. the full corpus content crosses an
    # exchange once before AQE notices the rep side is tiny, and that
    # content shuffle runs concurrently with (and memory-starves) the
    # keys scan.  When the INPUT is provably small (total scan bytes at
    # or under this cap ⇒ the rep table is a few hundred MB at worst),
    # the rep side is statically hinted broadcast so content never
    # shuffles at all.  Above the cap — any real cluster corpus — the
    # hint is withheld and the shuffle join (or AQE) proceeds, because
    # a 10^12-row rep table can never broadcast.
    broadcast_reps_max_input_bytes: int = 8 * 1024 * 1024 * 1024
    # Small/unsplittable scans (e.g. a single-row-group parquet file —
    # the driver testdata ships documents.parquet as ONE row group, so
    # the scan cannot exceed 1 task no matter how finely splits are
    # planned) are round-robin widened to the session shuffle width
    # right after ingest, so the keys pass and the signature pandas UDF
    # parallelize across every core instead of one.  The exchange moves
    # at most this many content bytes — trivial by construction.  Real
    # cluster corpora (many files / many row groups) exceed the cap and
    # are left exactly as scanned: widening them would shuffle the full
    # corpus content for nothing.  (guide §2.5 "input skew: one huge
    # unsplittable file — repartition immediately after the read")
    widen_small_scan_bytes: int = 256 * 1024 * 1024
    # rep graphs at or below this edge count resolve on the DRIVER via
    # union-find: the iterative join loop costs ~3 latency-bound jobs
    # per round × O(log n) rounds of pure serial scheduling time, which
    # dominates when the rep graph is small relative to the corpus
    # (dedup rep graphs are: edges ≪ files).  2M edges ≈ 32 MB on the
    # driver.  Graphs above the threshold — a 10^12-file corpus can
    # exceed it — take the distributed label-propagation loop.
    cc_driver_max_edges: int = 2_000_000

    # H4 dispatch: langs keyed on NORMALIZED content (pixel-hash analog);
    # None = normalize everything (the v1 default — every payload is text)
    normalize_langs: tuple[str, ...] | None = None

    def __post_init__(self) -> None:
        # stage-0 parameter validation (scanner.py:849-867 raises
        # InvalidParameterError on bad thresholds; pinned by reference
        # tests: negative thresholds rejected, test_core.py:1937-1951)
        if self.lsh_bands * self.lsh_rows != self.minhash_perms:
            raise ValueError(
                f"lsh_bands*lsh_rows ({self.lsh_bands}*{self.lsh_rows}) "
                f"must equal minhash_perms ({self.minhash_perms})"
            )
        if self.simhash_bits % 64 != 0:
            raise ValueError("simhash_bits must be a multiple of 64")
        if self.hamming_threshold < 0:
            raise ValueError("hamming_threshold must be >= 0")
        if not 0.0 < self.jaccard_threshold <= 1.0:
            raise ValueError("jaccard_threshold must be in (0, 1]")
        if not 0.0 < self.containment_threshold <= 1.0:
            raise ValueError("containment_threshold must be in (0, 1]")
        if self.num_salts < 1 or self.salt_threshold < 2:
            raise ValueError("num_salts >= 1 and salt_threshold >= 2 required")

    @property
    def simhash_words(self) -> int:
        return self.simhash_bits // 64

    def to_dict(self) -> dict:
        return asdict(self)

    def config_hash(self) -> str:
        """Stable hash of the config, stamped into checkpoints/reports.

        Analog of the reference persisting its settings dict into the
        report (scanner.py:869-876) and the cleaner refusing to operate
        on a mismatched report (cleaner.py:265-295).
        """
        blob = json.dumps(self.to_dict(), sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


DEFAULT_CONFIG = DedupConfig()
