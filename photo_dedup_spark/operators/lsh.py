"""LSH banding + skew-salted candidate pair generation.

Replaces the reference's BK-tree radius search (the sub-quadratic
candidate stage, /root/reference/photo_dedup/scanner.py:232-283,
consumed at scanner.py:359-368) with the Spark-native equivalent:
explode MinHash band keys, **repartition by band-hash** (north rule),
and generate pairs within buckets.  Skewed buckets (license
boilerplate, vendored libs) are handled explicitly:

  * buckets with ``count <= salt_threshold``      → INLINE expansion:
      the sorted member list per bucket emits (ids[i], ids[j]) for
      i < j through two nested generators — no self-join machinery,
      per-row state bounded by salt_threshold members (round-6 rework;
      identical pair set to the former bucket self-join),
  * ``salt_threshold < count <= overflow_cap``    → salted pair-cells:
      each member gets ``salt = pmod(xxhash64(doc_id), S)``; the pair
      space is tiled into (i <= j) salt cells so a bucket of n rows
      becomes ~S²/2 tasks of ~(n/S)² pairs instead of one n² task
      (too big to collect per row — which is why they are salted),
  * ``count > overflow_cap``                      → dropped from the
      near-dup path with a **logged metric** (degrade-don't-drop:
      members keep their exact keys; mirrors the reference's oversize
      fallback contract, hasher.py:109-119).

A SimHash-prefix candidate path (16-bit chunks of the 256-bit
fingerprint, the "join on SimHash prefixes" variant of SURVEY.md §2.4
J3) is unioned in for hamming-close pairs that MinHash banding misses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from photo_dedup_spark.config import DEFAULT_CONFIG, DedupConfig


def explode_bands(signed: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """(doc_id, band_hashes) -> (doc_id, band_id, band_hash), nulls dropped."""
    return (
        signed.where(F.col("band_hashes").isNotNull())
        .select("doc_id", F.posexplode("band_hashes").alias("band_id", "band_hash"))
    )


def explode_simhash_chunks(
    signed: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG
) -> DataFrame:
    """(doc_id, simhash) -> (doc_id, band_id, band_hash) over 32-bit chunks.

    Chunk c of word w is ``(simhash[w] >>> (32*c)) & 0xFFFFFFFF``; band_id
    is offset past the MinHash band range so the two candidate paths can
    be unioned into one bucket table.

    Chunk width matters at scale: k-bit chunks produce ~N²/2^(k+1)
    RANDOM collision pairs per chunk position regardless of similarity.
    16-bit chunks are fine at 10⁴ docs but generate millions of junk
    candidates at 10⁵+ — 32-bit keeps the noise floor negligible while
    still guaranteeing (pigeonhole over 8 positions) a shared chunk for
    any pair within Hamming ≤ 7 and catching most of the ≤ 20 envelope
    probabilistically; the MinHash band path remains the primary
    recall feed (it alone clears the 0.99 gate at τ=0.7).
    """
    n_words = cfg.simhash_words
    chunks = []
    for w in range(n_words):
        for c in range(2):
            band_id = cfg.lsh_bands + w * 2 + c
            chunks.append(
                F.struct(
                    F.lit(band_id).alias("band_id"),
                    (
                        F.shiftrightunsigned(F.col("simhash").getItem(w), 32 * c)
                        .bitwiseAND(F.lit(0xFFFFFFFF))
                    ).alias("band_hash"),
                )
            )
    return (
        signed.where(F.col("simhash").isNotNull())
        .select("doc_id", F.explode(F.array(*chunks)).alias("ch"))
        .select("doc_id", F.col("ch.band_id").alias("band_id"), F.col("ch.band_hash").alias("band_hash"))
    )


def bucket_census(banded: DataFrame) -> DataFrame:
    """Per-(band_id, band_hash) member counts — the skew census that
    drives salting decisions and the bucket-histogram metric."""
    return banded.groupBy("band_id", "band_hash").agg(F.count("*").alias("bucket_n"))


def candidate_pairs(
    banded: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Candidate (src, dst) pairs (src < dst) per bucket, with explicit
    skew salting.

    Returns (pairs, bucket_stats) where bucket_stats carries the census
    with each bucket's routing (``plain`` / ``salted`` / ``overflow``)
    for the metrics sink — overflow drops are never silent.

    A pair is emitted once per bucket it shares, so it can repeat
    across bands, but never within one bucket (plain or salted).  There
    is no dedup exchange here: the verifier dedups pairs inside its
    tiles (operators/verify.py), and other callers apply their own
    ``distinct()``.

    Round-6 physical rework, identical pair set: bucket sizes come from
    ONE window count over the banded table (replacing the former
    census-groupBy + census-join tagging, which shuffled the banded
    table twice and re-ran per branch), and plain buckets expand pairs
    INLINE — sorted member list per bucket, two nested generators emit
    (ids[i], ids[j]) for i < j — instead of a bucket self-join
    (exchange + sort + join machinery for the same output rows).
    Per-row memory for the expansion is O(bucket_n) ≤ salt_threshold
    members.  The plain path costs two exchanges of the banded table,
    not one: the lazy ``localCheckpoint`` of ``sized`` reads back as
    ``UnknownPartitioning(0)``, so the groupBy cannot reuse the
    window's partitioning and shuffles the sized table again (an
    ``Exchange hashpartitioning(band_id, band_hash)`` above the
    checkpoint's scan; ROADMAP.md open item 2, "LSH candidates: each
    pair once").  Measured at bench sf1.0: 15.7 s → ~5 s for the same
    4.4M distinct pairs.
    The salted path keeps the cell-tiled join — its buckets are too
    big to collect per row, which is exactly why they are salted.  It
    is planned only when the largest kept bucket exceeds
    ``salt_threshold``: one max aggregate over the checkpointed sized
    table decides (a job at call time, which also fills the
    checkpoint), so an input with no salted bucket runs no join and no
    broadcast of an empty build side.
    """
    from pyspark.sql import Window

    routed = bucket_census(banded).withColumn(
        "route",
        F.when(F.col("bucket_n") > cfg.bucket_overflow_cap, F.lit("overflow"))
        .when(F.col("bucket_n") > cfg.salt_threshold, F.lit("salted"))
        .when(F.col("bucket_n") >= 2, F.lit("plain"))
        .otherwise(F.lit("singleton")),
    )

    wb = banded
    if num_partitions:
        # explicit width: AQE's size-based coalescing under-parallelizes
        # the downstream Python-free but row-heavy expansion stages
        wb = wb.repartition(num_partitions, "band_id", "band_hash")
    w = Window.partitionBy("band_id", "band_hash")
    # consumed by both the plain and the salted branch — checkpoint so
    # the banded exchange + window count run once (~30 B/row stored);
    # singletons are dropped first, which is most of the table
    sized = (
        wb.withColumn("bucket_n", F.count("*").over(w))
        .where(F.col("bucket_n") >= 2)
        .localCheckpoint(eager=False)
    )
    active = sized.where(F.col("bucket_n") <= cfg.bucket_overflow_cap)

    # --- plain buckets: inline i<j expansion over the sorted member list
    plain_ids = (
        active.where(
            (F.col("bucket_n") >= 2) & (F.col("bucket_n") <= cfg.salt_threshold)
        )
        .groupBy("band_id", "band_hash")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
    )
    plain_pairs = (
        plain_ids.select(F.col("ids"), F.posexplode("ids").alias("i", "src"))
        .select(
            "src",
            F.explode(
                F.slice(
                    F.col("ids"), F.col("i") + 2, F.size("ids") - F.col("i") - 1
                )
            ).alias("dst"),
        )
        .select("src", "dst")
    )

    # --- hot buckets: salt-cell tiling of the pair space, planned only
    # when a kept bucket is salted
    max_n = active.agg(F.max("bucket_n")).collect()[0][0]
    if max_n is None or max_n <= cfg.salt_threshold:
        return plain_pairs, routed
    s = cfg.num_salts
    hot = (
        active.where(F.col("bucket_n") > cfg.salt_threshold)
        .select("band_id", "band_hash", "doc_id")
        .withColumn("salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(s)).cast("int"))
    )
    # left occurrence of row with salt i covers cells (i, j) for j >= i;
    # right occurrence of row with salt j covers cells (i, j) for i <= j.
    left = hot.withColumn(
        "cell_j", F.explode(F.sequence(F.col("salt"), F.lit(s - 1)))
    ).withColumnRenamed("salt", "cell_i")
    right = hot.withColumn(
        "cell_i", F.explode(F.sequence(F.lit(0), F.col("salt")))
    ).withColumnRenamed("salt", "cell_j")
    if num_partitions:
        left = left.repartition(num_partitions, "band_id", "band_hash", "cell_i", "cell_j")
    # NOTE: in an off-diagonal cell (i < j) a is the salt-i side and b
    # the salt-j side, so each pair matches once, but its doc_id order
    # may oppose its salt order — normalize with least/greatest rather
    # than filtering on a.doc_id < b.doc_id (which would lose it).  In a
    # diagonal cell both sides share one salt and both orientations
    # match, so only there a.doc_id < b.doc_id keeps each pair once.
    salted_pairs = (
        left.alias("a")
        .join(
            right.alias("b"),
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col("a.cell_i") == F.col("b.cell_i"),
                F.col("a.cell_j") == F.col("b.cell_j"),
                (F.col("a.cell_i") < F.col("a.cell_j"))
                | (F.col("a.doc_id") < F.col("b.doc_id")),
            ],
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("src"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("dst"),
        )
    )

    return plain_pairs.unionByName(salted_pairs), routed
