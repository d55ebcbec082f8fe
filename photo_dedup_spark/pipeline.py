"""The near-duplicate detection stage graph (reference ``scan``), composed
once and run under one of two materialization policies.

Stage graph (SURVEY.md §3.1, mirroring the reference's scanner.py:815-978
stage by stage, Spark-first):

  s0_ingest       project (doc_id, repo, path, lang, content, n_chars);
                  NULL content dropped with a counted error
                  (scanner.py:471-479 drop-and-count contract); small
                  scans widened toward the shuffle width
  s1_keys         content-free identity rows + normalized sha256 key
                  (H1/H3/H4); each group's representative = min
                  (repo, path) member (the reference's ``files[0]``
                  after sort, scanner.py:550), derived from this table
                  by a content-free aggregate wherever it is needed
  s2_signatures   MinHash + SimHash pandas UDFs on exact-group
                  representatives only (J6 rep pattern); oversize reps
                  fall back to exact-only (hasher.py:109-119)
  s3_candidates   LSH band + SimHash-prefix buckets, inline in-bucket
                  pair expansion + skew-salted cell join (J3); pair
                  dedup folds into the verify tiles
  s4_edges        block-tiled sketch Jaccard/containment + Hamming
                  (J5/J8) — sketches ship per (doc, tile), not per pair
  s5_complabels   connected components over verified REP edges only
                  (the rep graph is orders of magnitude smaller than
                  the doc table, so the iterative loop never touches
                  members), then the per-component representative-
                  verify split (scanner.py:382-395; operators/
                  repsplit.py); members inherit their rep's subgroup
                  (the hybrid merge J6)
  s6_assignments  keep-window (W1) over the labeled members

``mode='exact'`` reproduces the reference's ``--no-pixel`` behavior
(scanner.py:861-867 forces exact matching): s2-s4 never run and
clusters are exactly the normalized-key groups — no iteration, no
shuffle beyond one hash aggregation.

Each stage is a builder that reads earlier stages' outputs and returns
one DataFrame; :func:`compose` hands it to a ``materialize(name,
build)`` policy and stores what the policy returns.  Every Spark job a
stage needs (telemetry counts, the CC loop, split probes) runs inside
its builder, so a policy that skips a build skips its jobs too.

  * in memory (:func:`run_pipeline`): ``build()`` — the stage stays
    lazy; s1, s2 and s4, which several consumers read, pass through a
    lazy localCheckpoint.
  * staged (:func:`photo_dedup_spark.staged.run_staged_pipeline`):
    ``StageRunner.run`` — parquet checkpoint + ``_metrics.json`` per
    stage, longest-valid-prefix resume; downstream stages read the
    parquet, so no stage is also kept in the block manager.

Both policies run the same plan, so the staged and in-memory
assignments are identical by construction.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from functools import partial

from py4j.java_gateway import is_instance_of
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from photo_dedup_spark.config import DEFAULT_CONFIG, DedupConfig
from photo_dedup_spark.functions.keys import exact_key_col, norm_key_col
from photo_dedup_spark.functions.normalize import normalize_col
from photo_dedup_spark.functions.signatures import make_signature_struct_udf
from photo_dedup_spark.operators import lsh
from photo_dedup_spark.operators.components import connected_components
from photo_dedup_spark.operators.groups import keep_selection
from photo_dedup_spark.operators.repsplit import (
    oversized_component_count,
    rep_verify_split,
)
from photo_dedup_spark.operators.verify import tile_count, verify_pairs


@dataclass
class PipelineResult:
    assignments: DataFrame  # (doc_id, repo, path, lang, n_chars, cluster_id, rn, is_keep)
    edges: DataFrame | None
    metrics: dict


_LONG_MAX = 2**63 - 1
_DATASOURCES = "org.apache.spark.sql.execution.datasources."


def _input_bytes(files: DataFrame) -> int:
    """Spark's size estimate for the file scan feeding *files*, read from
    plan statistics — no Spark job runs.  Only a plan whose every leaf
    is a file relation (parquet, json, ... on any filesystem) is
    trusted: it reports the total size of the files it lists.  Any other
    leaf — a ``LogicalRDD`` (e.g. a ``createDataFrame`` input, no
    statistics), a generated ``Range`` or a DSv2 table such as Iceberg
    (rows × schema default sizes, not bytes) — makes the input read as
    Long.MaxValue, so it takes the at-scale side of every size-gated plan
    decision (the Statistics-based strategy choice of "To Partition, or
    Not to Partition", SIGMOD 2021).  The analyzed plan is optimized
    afresh, without cache substitution, so a cached frame is sized from
    its scan whether or not its cache has been filled."""
    session = files.sparkSession
    plan = session._jsparkSession.sessionState().optimizer().execute(
        files._jdf.queryExecution().analyzed().clone()
    )
    gw = session.sparkContext._gateway
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if not (
            is_instance_of(gw, leaf, _DATASOURCES + "LogicalRelation")
            and is_instance_of(gw, leaf.relation(), _DATASOURCES + "HadoopFsRelation")
        ):
            return _LONG_MAX
    return int(plan.stats().sizeInBytes())


def ingest(
    files: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    collect_metrics: bool = True,
) -> tuple[DataFrame, dict]:
    """Stage 0: stable doc ids + null handling.

    doc_id = xxhash64(repo, path, commit) — value-based, deterministic
    under any partitioning.  (At true 10^12 scale this would widen to a
    128-bit key; 64-bit collision odds at 10^9 docs are ~2.7e-2 so the
    id also carries (repo, path) through the pipeline for tie-breaks.)
    """
    m: dict = {}
    if collect_metrics:
        # single pass: count(*) vs count(content) gives the null count
        # without a second scan (scanner.py:471-479 error counting)
        c = files.agg(
            F.count("*").alias("n"), F.count("content").alias("nc")
        ).collect()[0]
        m = {"rows_in": c.n, "null_content_dropped": c.n - c.nc}
    good = files.where(F.col("content").isNotNull())
    docs = good.select(
        F.xxhash64("repo", "path", "commit").alias("doc_id"),
        "repo",
        "path",
        "lang",
        F.col("content"),
        F.length("content").alias("n_chars"),
    )
    return docs, m


# Inputs under this many scan bytes keep the pair stage and the split
# at most 32-way (:attr:`_Graph.shuffle_n`).
NARROW_PAIRS_MAX_INPUT_BYTES = 64 * 1024 * 1024


@dataclass
class _Graph:
    """What the stage builders share: the run's inputs, the plan-shape
    decisions, the metrics, and every stage output materialized so far."""

    spark: SparkSession
    files: DataFrame
    cfg: DedupConfig
    mode: str
    collect_metrics: bool
    strict_verify: bool
    # The policy's in-memory checkpoint for the stages that several
    # consumers read (s1, s2, s4); identity when the policy stores
    # every stage durably anyway.
    checkpoint: Callable[[DataFrame], DataFrame]
    # Spark's input-size estimate (no Spark job) drives four plan-shape
    # decisions: small-scan widening, the broadcast-reps hint, the
    # pair-stage width cap, and the verify tile count.  Read once.
    in_bytes: int
    shuffle_conf_n: int
    metrics: dict
    out: dict[str, DataFrame] = field(default_factory=dict)

    @property
    def hint_broadcast(self) -> bool:
        return self.in_bytes <= self.cfg.broadcast_reps_max_input_bytes

    @property
    def shuffle_n(self) -> int:
        # The explicit numPartitions the pair stage and the split take
        # is immune to AQE coalescing (that is its purpose at bench
        # scale: AQE's size-based rule squeezed the Python-CPU-heavy
        # stages into too few tasks).  The flip side is that a TINY
        # input pays full task-overhead waves — at sf0.1 (1.5 MB) the
        # pair stage runs ~10 exchanges × 128 tasks of ~40 rows.  So
        # inputs under NARROW_PAIRS_MAX_INPUT_BYTES keep ≥ 32-way
        # parallelism (plenty at that size, measured −2 s warm at
        # sf0.1) while anything larger — every at-scale corpus — keeps
        # the full width.
        if self.in_bytes < NARROW_PAIRS_MAX_INPUT_BYTES:
            return min(self.shuffle_conf_n, 32)
        return self.shuffle_conf_n

def _ingest_stage(g: _Graph) -> DataFrame:
    docs, ing_m = ingest(g.files, g.cfg, g.collect_metrics)
    g.metrics.update(ing_m)
    # Widen small/unsplittable scans (cfg.widen_small_scan_bytes): the
    # driver testdata is a SINGLE-row-group parquet file, so the scan
    # yields one real partition and the keys pass + signature pandas
    # UDF would run on one core out of 32 (measured: the signature
    # stage alone was 16-18 s at bench sf1.0; widened it is ~1.5 s).
    # The round-robin exchange moves ≤ the cap's content bytes — noise.
    # Large corpora skip this: their scans are already wide and the
    # exchange would move the full corpus content for nothing.
    if g.in_bytes <= g.cfg.widen_small_scan_bytes:
        docs = docs.repartition(g.shuffle_conf_n)
    return docs


def _keys_stage(g: _Graph) -> DataFrame:
    # Exact + normalized keys (pure built-ins, codegen'd).
    # H4 dispatch: with cfg.normalize_langs set, only those langs key on
    # normalized content — the rest key raw (compute_hash branch,
    # hasher.py:157-172); None keeps the all-normalized v1 behavior
    if g.cfg.normalize_langs is None:
        group_key = norm_key_col(F.col("content"))
    else:
        from photo_dedup_spark.functions.keys import dispatch_key_col

        group_key = dispatch_key_col(
            F.col("lang"), F.col("content"), g.cfg.normalize_langs
        )
    # keyed_lite: every identity/key column EXCEPT content, materialized
    # ONCE.  normalize+sha over full content is the single most expensive
    # JVM pass; leaving it lazy made every downstream consumer (reps
    # agg, member_base, final member projection) recompute it — measured
    # as the dominant cost of the final materialization.  The table is
    # ~100 B/row (no content).
    # exact_key (a SECOND full sha2 pass over content) is consumed only
    # by the strict_verify re-split — computing it unconditionally cost
    # a full content hash pass per run (measured ~4 s of the keys stage
    # at the 468k-file corpus) that the default mode threw away
    keyed_lite = g.out["s0_ingest"].select(
        "doc_id",
        "repo",
        "path",
        "lang",
        "n_chars",
        *(
            [exact_key_col(F.col("content")).alias("exact_key")]
            if g.strict_verify
            else []
        ),
        group_key.alias("norm_key"),
    )
    return g.checkpoint(keyed_lite)


def _reps_lite(g: _Graph) -> DataFrame:
    """Group representative per normalized key: the min (repo, path)
    member — the reference's group[0] after sort (scanner.py:550,
    tests/sequential_oracle.py:94).

    Picked with groupBy().agg(min(struct(...))), NOT a window: a hash
    aggregate partial-combines map-side, and it runs over the
    content-FREE keys table so only key/id columns ever cross that
    shuffle; rep content is re-attached from the raw scan afterwards,
    while a window min would shuffle EVERY row's content."""
    return g.out["s1_keys"].groupBy("norm_key").agg(
        F.min(F.struct("repo", "path", "doc_id", "n_chars")).alias("m")
    ).select(
        "norm_key",
        F.col("m.doc_id").alias("doc_id"),
        F.col("m.repo").alias("repo"),
        F.col("m.path").alias("path"),
        F.col("m.n_chars").alias("n_chars"),
    )


def _member_base(g: _Graph) -> DataFrame:
    """Member rows with their rep attached — the single source for both
    the label table and the final member projection, so no keys ⋈
    labels self-join (two exchanges + sorts of the full doc table for
    rows that both descend from the keys table) is needed."""
    rep_side = _reps_lite(g).select("norm_key", F.col("doc_id").alias("rep_id"))
    if g.hint_broadcast:
        rep_side = F.broadcast(rep_side)
    return g.out["s1_keys"].join(rep_side, "norm_key")


def _signatures_stage(g: _Graph) -> DataFrame:
    cfg = g.cfg
    # re-attach content for representatives only: join the content-free
    # rep table back to the raw scan on doc_id.  The rep side is
    # statically hinted broadcast when the input is a file scan of at most
    # cfg.broadcast_reps_max_input_bytes (the reps are a subset of its
    # rows, content-free): relying on AQE here is not
    # enough — AQE converts to a broadcast join only after BOTH sides
    # have shuffled, so the full corpus content would cross an exchange
    # once, and that content shuffle runs concurrently with the keys
    # scan, inflating its CPU ~3x under memory-bandwidth contention
    # (measured 2-vs-8-core, BENCH/SCALING.md).  Past the cap — real
    # cluster corpora — the hint is withheld and this degrades to a
    # shuffle join on doc_id: still exactly one normalize pass.
    reps_side = _reps_lite(g)
    if g.hint_broadcast:
        reps_side = F.broadcast(reps_side)
    reps = g.out["s0_ingest"].select("doc_id", "content").join(reps_side, "doc_id")
    # Representative pattern (J6, scanner.py:549-567): one signature
    # per distinct normalized content; members inherit via rep_id.
    # Oversize reps keep exact keys only (degrade-don't-drop,
    # hasher.py:109-119).
    eligible = reps.where(F.col("n_chars") <= cfg.content_cap_chars)
    if g.collect_metrics:
        n_reps = reps.count()
        g.metrics["signature_reps"] = n_reps
        g.metrics["oversize_exact_only"] = n_reps - eligible.count()

    # signed carries ONLY what downstream stages read: band_hashes +
    # simhash chunks feed candidates, (sketch, sketch_b, simhash)
    # feed verify, (repo, path) feed the split's iteration order.
    # Content does not survive this stage — the pair join must never
    # move full text (SURVEY §4.2 select-pruning).
    sign_udf = make_signature_struct_udf(cfg)
    return g.checkpoint(
        eligible.select(
            "doc_id",
            "repo",
            "path",
            normalize_col(F.col("content")).alias("norm_content"),
        )
        .withColumn("sig", sign_udf(F.col("norm_content")))
        .select(
            "doc_id",
            "repo",
            "path",
            F.col("sig.simhash").alias("simhash"),
            F.col("sig.band_hashes").alias("band_hashes"),
            F.col("sig.sketch").alias("sketch"),
            F.col("sig.sketch_b").alias("sketch_b"),
        )
    )


def _candidates_stage(g: _Graph) -> DataFrame:
    # LSH bands ∪ SimHash prefixes
    signed = g.out["s2_signatures"]
    banded = lsh.explode_bands(signed, g.cfg).unionByName(
        lsh.explode_simhash_chunks(signed, g.cfg)
    )
    # pairs co-bucketed in several bands repeat here: the verify tiles
    # (s4) dedup them, so the pair table needs no distinct() shuffle
    pairs, bucket_stats = lsh.candidate_pairs(
        banded, g.cfg, num_partitions=g.shuffle_n
    )
    if g.collect_metrics:
        g.metrics["lsh_bucket_routes"] = {
            r["route"]: r["n"]
            for r in bucket_stats.groupBy("route")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        g.metrics["candidate_pairs"] = pairs.distinct().count()
    return pairs


def _edges_stage(g: _Graph) -> DataFrame:
    # Verify failures are counted via accumulator — the reference's
    # count-and-drop progress telemetry, A5.
    # Block-tiled (operators/verify.py): sketch bytes move
    # O(distinct(doc, tile)), not O(pairs) — 13× fewer at bench sf1.0.
    fail_acc = g.spark.sparkContext.accumulator(0) if g.collect_metrics else None
    # NOTE: the tile stage gets the FULL shuffle width, not the
    # narrow-input cap — it is Python-CPU-heavy (per-pair sketch
    # merges), so more, smaller groups balance the task waves
    # (measured at sf1.0: 32-wide 19.5 s vs 128-wide 11.8 s)
    verified = verify_pairs(
        g.out["s3_candidates"],
        g.out["s2_signatures"],
        g.cfg,
        failure_counter=fail_acc,
        tile_blocks=tile_count(g.in_bytes),
        num_partitions=g.shuffle_conf_n,
    )
    near_edges = g.checkpoint(verified.where(F.col("is_edge")).select("src", "dst"))
    if g.collect_metrics:
        g.metrics["verified_edges"] = near_edges.count()
        g.metrics["verify_failures"] = fail_acc.value
    return near_edges


def _split_labels(g: _Graph, member_base: DataFrame) -> DataFrame:
    """Connected components over the REP graph, then the per-component
    representative-verify split (scanner.py:382-395) — precision
    semantics; subsumes the hybrid group-merge (J6): exact groups linked
    through reps by a verified pair land in one subgroup."""
    cfg, near_edges = g.cfg, g.out["s4_edges"]
    # nodes are just the edge endpoints (reps with no verified edge
    # keep their own label via the coalesce below)
    nodes = (
        near_edges.select(F.col("src").alias("doc_id"))
        .unionByName(near_edges.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    comp_labels, cc_m = connected_components(nodes, near_edges, cfg)
    g.metrics.update(cc_m)

    # Driver-resolved CC graphs come with a free component census:
    # max_component lets the split skip its sizes join + oversized
    # probe job, and a provably small label table upgrades the
    # members join and the sub-label attach to broadcast joins (no
    # shuffle of the signature or doc tables).  Distributed-CC
    # graphs (above cc_driver_max_edges) keep the general plan.
    cc_small = (
        cc_m.get("cc_mode") == "driver-union-find"
        and cc_m.get("cc_driver_edges", 0) <= cfg.cc_driver_max_edges
    )
    splits = rep_verify_split(
        comp_labels,
        g.out["s2_signatures"],
        cfg,
        metrics=g.metrics,
        num_partitions=g.shuffle_n,
        max_component=cc_m.get("cc_max_component") if cc_small else None,
        broadcast_labels=cc_small,
    )
    if g.collect_metrics:
        g.metrics["split_oversized_components"] = oversized_component_count(
            comp_labels, cfg
        )
    sub_side = splits.select(
        F.col("doc_id").alias("rep_id"),
        F.col("cluster_id").alias("sub_label"),
    )
    if cc_small:
        # splits rows ≤ CC nodes ≤ 2×cc_driver_edges — bounded small
        sub_side = F.broadcast(sub_side)
    return member_base.join(sub_side, "rep_id", "left").withColumn(
        "cluster_id",
        F.coalesce(F.col("sub_label"), F.col("rep_id")),
    )


def _complabels_stage(g: _Graph) -> DataFrame:
    member_base = _member_base(g)
    if g.mode == "exact":
        # clusters ARE the normalized-key groups — the rep mapping is
        # already the cluster label (no CC, no joins)
        labeled = member_base.withColumn("cluster_id", F.col("rep_id"))
    else:
        labeled = _split_labels(g, member_base)

    # strict re-split (J7) — composite (cluster, raw sha) key, then
    # re-canonicalize to min doc_id per subgroup so the label domain
    # stays LongType (the keys table carries exact_key under strict)
    if g.strict_verify:
        labeled = labeled.withColumn(
            "cluster_id",
            F.min("doc_id").over(Window.partitionBy("cluster_id", "exact_key")),
        )
    members = labeled.select("doc_id", "repo", "path", "lang", "n_chars", "cluster_id")
    if g.collect_metrics:
        g.metrics["clusters"] = members.select("cluster_id").distinct().count()
    return members


def _assignments_stage(g: _Graph) -> DataFrame:
    # keep-selection over members (a projection of the labeled member
    # rows — no re-join against the doc table)
    return keep_selection(g.out["s5_complabels"])


# The stage graph, in order.  Names are the staged checkpoint dirs.
STAGES: tuple[tuple[str, Callable[[_Graph], DataFrame]], ...] = (
    ("s0_ingest", _ingest_stage),
    ("s1_keys", _keys_stage),
    ("s2_signatures", _signatures_stage),
    ("s3_candidates", _candidates_stage),
    ("s4_edges", _edges_stage),
    ("s5_complabels", _complabels_stage),
    ("s6_assignments", _assignments_stage),
)
_NEAR_DUP_STAGES = frozenset({"s2_signatures", "s3_candidates", "s4_edges"})


def _in_memory(name: str, build: Callable[[], DataFrame]) -> DataFrame:
    """The in-memory materialization policy: the stage as built."""
    return build()


def _lazy_local_checkpoint(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=False)


def compose(
    spark: SparkSession,
    files: DataFrame,
    cfg: DedupConfig,
    materialize: Callable[[str, Callable[[], DataFrame]], DataFrame],
    checkpoint: Callable[[DataFrame], DataFrame] = lambda df: df,
    mode: str = "hybrid",
    collect_metrics: bool = True,
    strict_verify: bool = False,
) -> PipelineResult:
    """Run the stage graph over *files*, each stage through
    ``materialize(name, build)``; exact mode skips s2-s4.  The stages
    that several consumers read pass through *checkpoint* first."""
    if mode not in ("exact", "similar", "hybrid"):
        raise ValueError(
            f"invalid mode: {mode!r} — must be one of: exact, similar, hybrid"
        )
    g = _Graph(
        spark,
        files,
        cfg,
        mode,
        collect_metrics,
        strict_verify,
        checkpoint,
        in_bytes=_input_bytes(files),
        shuffle_conf_n=int(spark.conf.get("spark.sql.shuffle.partitions")),
        metrics={"mode": mode, "config_hash": cfg.config_hash()},
    )
    for name, build in STAGES:
        if mode == "exact" and name in _NEAR_DUP_STAGES:
            continue
        g.out[name] = materialize(name, partial(build, g))
    return PipelineResult(
        assignments=g.out["s6_assignments"],
        edges=g.out.get("s4_edges"),
        metrics=g.metrics,
    )


def run_pipeline(
    spark: SparkSession,
    files: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    mode: str = "hybrid",  # 'exact' | 'similar' | 'hybrid'  (scanner.py:852-867)
    collect_metrics: bool = True,
    strict_verify: bool = False,
) -> PipelineResult:
    """The stage graph, in memory.

    *mode* mirrors the reference's ``image_match`` triple
    (scanner.py:852-856, invalid values raise like
    InvalidParameterError).  'similar' runs the same distributed path
    as 'hybrid': in the reference they differ only in WHICH files reach
    the dHash stage (all vs pixel-unmatched + reps) — under the
    representative pattern + CC + rep-verify split, both produce
    identical clusters, because exact-equal docs always share their
    rep's subgroup.

    *collect_metrics=False* skips the optional telemetry counts —
    each one is an extra Spark job re-running part of the lineage
    (convergence counts inside CC are intrinsic and always run).

    *strict_verify* (J7, scanner.py:645-695): re-split every cluster by
    the raw sha256 so only byte-identical members share a final cluster
    — the ``--strict-verify`` flag.  Only meaningful in exact mode (in
    hybrid mode near-members are intentionally non-identical).

    The three localCheckpoints (keys, signatures, edges) are LAZY: each
    block is still materialized exactly once and reused by every
    downstream consumer, but the materialization folds into the first
    consuming job instead of a dedicated serial job+barrier per
    checkpoint.  At sf0.1 three eager barriers cost ~9 s of fixed
    serial time (VERDICT r3 "What's wrong #1")."""
    return compose(
        spark,
        files,
        cfg,
        _in_memory,
        _lazy_local_checkpoint,
        mode=mode,
        collect_metrics=collect_metrics,
        strict_verify=strict_verify,
    )
