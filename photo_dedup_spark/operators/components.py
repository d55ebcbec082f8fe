"""Connected components via alternating large-star / small-star rounds.

Replaces the reference's driver-side BFS over an adjacency dict
(/root/reference/photo_dedup/scanner.py:286-310, built at 359-368) with
the distributed formulation named by the north rule: an iterative
hash-join loop with lineage breaks.

The distributed loop is the two-phase star-contraction algorithm of
Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii, "Connected
Components in MapReduce and Beyond" (SoCC'14) — each round REWRITES the
edge set (large-star points every larger neighbor at the neighborhood
minimum; small-star folds the smaller neighbors onto it) and provably
converges to per-component stars centered on the component minimum in
O(log² n) rounds (O(log n) in practice), INDEPENDENT of graph diameter.
Plain neighbor-min label propagation over a static edge set — this
operator's first formulation — needs O(diameter) rounds, and the north
rule's boilerplate case is exactly the adversary: an evolving-template
chain (license v1 → v2 → …) is one mega-component whose diameter equals
its size (measured: a planted 200-member drifting chain did not
converge in 30 propagation rounds; the star rounds close it in ~6).

Also subsumes the reference's subtlest logic — the hybrid group merge
(scanner.py:583-622), where exact groups linked through a representative
by a verified similar pair are folded together: we union exact-group
*star edges* (member ↔ group-min member) with verified near-dup edges
and let CC produce the merged clusters (SURVEY.md §2.4 J6).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from photo_dedup_spark.config import DEFAULT_CONFIG, DedupConfig


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star step (Kiveris et al. §3): for every node u, point
    each STRICTLY LARGER neighbor v at m = min(Γ(u) ∪ {u}).  Output
    edges are (u=larger, v=smaller); strictly-smaller neighbors are NOT
    re-emitted — the alternating small-star step owns them.

    The neighborhood minimum is a WINDOW aggregate (one exchange on u)
    rather than groupBy-then-self-join (exchange + join): the loop's
    scaling cost at small graph sizes is per-stage scheduling latency
    (its data is tiny relative to the corpus), so fewer exchanges per
    round directly shrink the pipeline's serial fraction; at 10^12-edge
    scale both forms hash-partition the symmetrized edges by u, so the
    skew profile (one task per hub node) is unchanged."""
    from pyspark.sql import Window

    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    w = Window.partitionBy("u")
    return (
        sym.withColumn("m", F.least(F.col("u"), F.min("v").over(w)))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star step: orient every edge (u=larger, v=smaller);
    for every node u fold N(u) = its smaller neighbors onto
    m = min(N(u)) — emit (v, m) for v ∈ N(u) ∖ {m} plus (u, m).

    Window form, same rationale as :func:`_large_star`: per row
    (u, v, m) emit both (v, m) and (u, m) via one explode — their union
    over N(u) is exactly folded ∪ {(u, m)} ∪ {(m, m)}, and the (m, m)
    self-loop dies in the u ≠ v filter; duplicates die in the final
    distinct (min is duplicate-insensitive, so upstream multiplicity
    never changes the result)."""
    from pyspark.sql import Window

    o = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    w = Window.partitionBy("u")
    pairs = o.withColumn("m", F.min("v").over(w)).select(
        F.explode(
            F.array(
                F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
            )
        ).alias("edge")
    )
    return (
        pairs.select("edge.u", "edge.v")
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> tuple[DataFrame, dict]:
    """Alternating large-star / small-star rounds until the edge set is
    a fixpoint (a union of stars centered on each component's minimum).

    *nodes*: (doc_id); *edges*: (src, dst) undirected.
    Returns ((doc_id, cluster_id), metrics) where cluster_id is the
    minimum doc_id in the component — a value-based, partition-order-free
    label (determinism contract, SURVEY.md §7.3).

    Round count is O(log² n) proven / O(log n) observed, INDEPENDENT of
    component diameter (module docstring) — the property that makes this
    the 100 TB path: a 10⁶-member boilerplate chain converges in ~20
    rounds where neighbor-min propagation would need 10⁶.

    The loop's only blocking actions are the per-cycle materializations
    — convergence detection costs ZERO extra jobs on non-final cycles.
    Each materialize carries an ``observe`` signature (edge count +
    exact decimal sum of per-edge xxhash64) computed DURING the write;
    a differing signature PROVES the edge set changed (both frames are
    distinct sets, so equal sets always produce equal signatures — the
    "continue" branch is certain, never probabilistic).  Only when the
    signature matches the previous cycle's does the loop run one exact
    symmetric-difference job to confirm the fixpoint, so a 2⁻⁶⁴-style
    hash collision can cost one redundant check job but can never
    terminate the loop early: termination is gated on the EXACT diff.
    The star steps strictly decrease a potential function until
    fixpoint (no oscillation), so an unchanged edge set across the
    batch IS convergence.  Per-check telemetry lands in the metrics
    dict (the convergence telemetry the north rule asks for):
    ``cc_edges_per_check`` (observed edge counts), ``cc_changed_per_iter``
    (1 = signature proved change, 0 = exact-confirmed fixpoint).

    HYBRID: rep graphs with ≤ ``cfg.cc_driver_max_edges`` edges skip
    the loop entirely and resolve by union-find on the driver (one
    Arrow collect of (src, dst) longs, C-speed find/union, one
    broadcast-joinable label map back) — identical labels, and the
    ~3 jobs/round × O(log n) rounds of serial scheduling latency
    become a single job.  This mirrors the scale design everywhere
    else in the pipeline: distribute what is large (the corpus), keep
    what is provably small (the REP edge set — edges ≪ files for any
    dedup workload) off the cluster's critical path.  The distributed
    loop remains the correctness path for graphs above the threshold
    and is pinned by the same equivalence tests (bit-identical labels,
    toy graphs through the 171k-file planted-chain corpus).
    """
    # ONE job decides the route AND feeds the driver path: collect up
    # to cap+1 edges via Arrow — under the cap that collect IS the
    # union-find input (the former separate limit().count() probe was
    # a redundant materialization of the same edge set).
    epd = (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .limit(cfg.cc_driver_max_edges + 1)
        .toPandas()
    )
    if len(epd) <= cfg.cc_driver_max_edges:
        return _driver_union_find(nodes, epd)

    # Per-check PARQUET round-trip, not localCheckpoint, for the loop
    # feedback.  localCheckpoint truncates lineage but the resulting
    # LogicalRDD INHERITS the pre-checkpoint sizeInBytes estimate, and
    # each round's self-join roughly squares it — so across feedback
    # iterations Catalyst's size estimate compounds exponentially until
    # the driver spends minutes multiplying million-digit BigIntegers
    # inside stats estimation (reproduced: ~x5.5 digits per check; the
    # loop appears to hang by check ~9).  A parquet read is a fresh
    # leaf with REAL file statistics, so estimates reset every check —
    # and the scratch files double as per-iteration lineage for resume
    # diagnostics (north-rule checkpoint story).  Only graphs above
    # cc_driver_max_edges ever pay it.
    from pyspark.sql import Observation

    spark = nodes.sparkSession
    scratch = tempfile.mkdtemp(prefix="cc_edges_")

    def _materialize(df: DataFrame, tag: str) -> tuple[DataFrame, tuple]:
        """Write + re-read the edge frame, returning it with its
        set signature (count, Σ xxhash64(u,v) as exact decimal) —
        computed by ``observe`` inside the write job, zero extra jobs.
        Equal sets ⇒ equal signatures (certainty); unequal signatures
        ⇒ unequal sets (the cheap, certain "keep looping" signal)."""
        path = os.path.join(scratch, tag)
        obs = Observation()
        df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).write.parquet(path)
        sig = (int(obs.get["n"]), int(obs.get["h"]))
        return spark.read.parquet(path), sig

    star, sig = _materialize(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct(),
        "round_0",
    )

    history: list[int] = []
    edges_per_check: list[int] = [sig[0]]
    rounds_done = 0
    converged = False
    try:
        while rounds_done < cfg.cc_max_iters and not converged:
            cur = star
            for _ in range(min(cfg.cc_check_every, cfg.cc_max_iters - rounds_done)):
                cur = _small_star(_large_star(cur))
                rounds_done += 1
            cur, cur_sig = _materialize(cur, f"round_{rounds_done}")
            edges_per_check.append(cur_sig[0])
            if cur_sig != sig:
                changed = 1  # signatures differ ⇒ sets PROVABLY differ
            else:
                # signature matched — confirm the fixpoint EXACTLY with
                # one symmetric-difference job (signed union, sum per
                # edge; both frames are distinct sets): termination
                # never rests on the hash
                changed = int(
                    cur.withColumn("_s", F.lit(1))
                    .unionByName(star.withColumn("_s", F.lit(-1)))
                    .groupBy("u", "v")
                    .agg(F.sum("_s").alias("_d"))
                    .where(F.col("_d") != 0)
                    .count()
                )
            star, sig = cur, cur_sig
            history.append(changed)
            converged = changed == 0
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in {cfg.cc_max_iters} "
                f"rounds (change history: {history[-5:]})"
            )
        # at fixpoint the edge set is a union of stars (u=member,
        # v=component-min center); nodes without an edge label themselves
        labels = nodes.join(
            star.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")),
            "doc_id",
            "left",
        ).select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
        # one final localCheckpoint pins the result in block storage so
        # the scratch dir can be deleted (single feedback-free hop: the
        # inherited-stats compounding above cannot recur)
        labels = labels.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    metrics = {
        "cc_iterations": rounds_done,
        "cc_changed_per_iter": history,
        "cc_edges_per_check": edges_per_check,
        "cc_mode": "distributed",
    }
    return labels, metrics


def _driver_union_find(nodes: DataFrame, epd) -> tuple[DataFrame, dict]:
    """Driver-side component resolution for small rep graphs: one Arrow
    collect, vectorized numpy min-hooking with FULL shortcutting
    (Shiloach–Vishkin shape: hook every node to the min label across
    its edges, then compress label chains to their roots before the
    next hook), one label map joined back to the distributed ``nodes``
    frame.  Full compression matters: with ONE pointer jump per round
    — this function's first form — a path-shaped mega-component needs
    O(diameter) rounds (measured 5,262 rounds on the planted 15k-member
    chain); after compression every tree is a star and each hook round
    merges every star with a neighbor, so star count at least halves —
    O(log n) outer rounds (9 on the same chain).  Produces the same
    value-based label as the distributed loop: min doc_id per
    component."""
    import numpy as np
    import pandas as pd

    spark = nodes.sparkSession
    n_edges = len(epd)
    if n_edges == 0:
        labels = nodes.select("doc_id", F.col("doc_id").alias("cluster_id"))
        return labels, {
            "cc_iterations": 0,
            "cc_changed_per_iter": [],
            "cc_mode": "driver-union-find",
            "cc_driver_edges": 0,
            "cc_max_component": 1,
        }

    src = epd["src"].to_numpy(dtype=np.int64)
    dst = epd["dst"].to_numpy(dtype=np.int64)
    ids = np.unique(np.concatenate([src, dst]))  # sorted ⇒ index order = id order
    e1 = np.searchsorted(ids, src)
    e2 = np.searchsorted(ids, dst)
    lab = np.arange(len(ids), dtype=np.int64)
    history: list[int] = []
    while True:
        prev = lab.copy()
        # hook the ROOTS: each edge's two current roots adopt their
        # minimum.  Hooking the endpoint NODES instead (the first form)
        # moves information one edge-hop per round — O(diameter) again
        # (measured 4,400 rounds on the 15k path even WITH compression).
        ra, rb = lab[e1], lab[e2]
        m = np.minimum(ra, rb)
        np.minimum.at(lab, ra, m)
        np.minimum.at(lab, rb, m)
        # full shortcut: compress label chains to their roots (labels
        # strictly decrease along a chain, so this terminates)
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        changed = int((lab != prev).sum())
        history.append(changed)
        if changed == 0:
            break
    mapping = spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "cluster_id": ids[lab]})
    )
    labels = nodes.join(mapping, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )
    # component census is free here (labels are on the driver): the
    # split stage uses cc_max_component to skip its sizes-join and the
    # oversized-probe job outright when no component exceeds its cap
    _, comp_counts = np.unique(lab, return_counts=True)
    return labels, {
        "cc_iterations": len(history),
        "cc_changed_per_iter": history,
        "cc_mode": "driver-union-find",
        "cc_driver_edges": n_edges,
        "cc_nodes": int(len(ids)),
        "cc_max_component": int(comp_counts.max()),
    }
