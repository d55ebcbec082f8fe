"""Connected components via alternating small-star / large-star rounds.

Replaces the reference's driver-side BFS over an adjacency dict
(/root/reference/photo_dedup/scanner.py:286-310, built at 359-368) with
the distributed formulation named by the north rule: an iterative
hash-aggregate loop with lineage breaks.

The distributed loop is the two-phase star-contraction algorithm of
Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii, "Connected
Components in MapReduce and Beyond" (SoCC'14) — each round REWRITES the
edge set (small-star folds every node's smaller neighbors onto their
minimum; large-star points every larger neighbor at the neighborhood
minimum) and provably converges to per-component stars centered on the
component minimum in O(log² n) rounds (O(log n) in practice),
INDEPENDENT of graph diameter.  Plain neighbor-min label propagation
over a static edge set — this operator's first formulation — needs
O(diameter) rounds, and the north rule's boilerplate case is exactly
the adversary: an evolving-template chain (license v1 → v2 → …) is one
mega-component whose diameter equals its size (measured: a planted
200-member drifting chain did not converge in 30 propagation rounds).

A round is two ``groupBy("u")`` aggregates — small-star, then
large-star — built from ``collect_set``/``min`` only: no ``Window`` and
no ``distinct`` (a neighbor SET absorbs duplicate, reversed and
repeated edges).  The set is one row per node, so a star centre holds
its whole component in one array (8 bytes per member; the window form
this replaces buffered the same rows per node).  Running small-star first lets the large-star
aggregate, which sees every node's full neighbor set Γ(u) of the
small-star output S, certify that output exactly (the stop test of
:func:`connected_components`).

Also subsumes the reference's subtlest logic — the hybrid group merge
(scanner.py:583-622), where exact groups linked through a representative
by a verified similar pair are folded together: we union exact-group
*star edges* (member ↔ group-min member) with verified near-dup edges
and let CC produce the merged clusters (SURVEY.md §2.4 J6).
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from photo_dedup_spark.config import DEFAULT_CONFIG, DedupConfig

_EDGE_SCHEMA = "u long, v long"


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star (Kiveris et al. §3): orient every edge (u=larger,
    v=smaller), drop self-loops, and for every node u fold its smaller
    neighbors N(u) onto m = min(N(u)) — emit (x, m) for
    x ∈ N(u) ∪ {u}, x ≠ m.  One exchange (the aggregate); the set makes
    the input's multiplicity and orientation irrelevant."""
    return (
        e.where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .groupBy("u")
        .agg(F.collect_set("v").alias("n"))
        .select(
            F.explode(F.concat("n", F.array("u"))).alias("x"),
            F.array_min("n").alias("m"),
        )
        .where(F.col("x") != F.col("m"))
    )


def _large_star(s: DataFrame, obs: Observation) -> DataFrame:
    """Large-star over the symmetrized small-star output S: for every
    node u with neighbor set Γ(u), point each STRICTLY LARGER neighbor
    at m = min(Γ(u) ∪ {u}).  One exchange (the aggregate).

    *obs* is filled by whichever action runs the result (the round's
    parquet write), at no extra job, from the same aggregate:
    ``unsettled`` — nodes of S that are neither a centre (every
    neighbor larger) nor a leaf (exactly one neighbor, smaller);
    ``leaves`` — the most leaves any centre holds; ``rows`` — edges
    emitted."""
    sym = s.select(
        F.inline(
            F.array(
                F.struct(F.col("x").alias("u"), F.col("m").alias("v")),
                F.struct(F.col("m").alias("u"), F.col("x").alias("v")),
            )
        )
    )
    nbrs = sym.groupBy("u").agg(F.collect_set("v").alias("n"))
    low = F.array_min("n")
    centre = low > F.col("u")
    leaf = (F.size("n") == 1) & (low < F.col("u"))
    larger = F.filter("n", lambda x: x > F.col("u"))
    return nbrs.observe(
        obs,
        F.count(F.when(~(centre | leaf), 1)).alias("unsettled"),
        F.coalesce(F.max(F.when(centre, F.size("n"))), F.lit(0)).alias("leaves"),
        F.coalesce(F.sum(F.size(larger)), F.lit(0)).alias("rows"),
    ).select(F.explode(larger).alias("u"), F.least(F.col("u"), low).alias("v"))


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> tuple[DataFrame, dict]:
    """Small-star / large-star rounds until the edge set is a union of
    stars, each centered on its component's minimum.

    *nodes*: (doc_id); *edges*: (src, dst) undirected.
    Returns ((doc_id, cluster_id), metrics) where cluster_id is the
    minimum doc_id in the component — a value-based, partition-order-free
    label (determinism contract, SURVEY.md §7.3).

    Round count is O(log² n) proven / O(log n) observed, INDEPENDENT of
    component diameter (module docstring) — the property that makes this
    the 100 TB path: a 10⁶-member boilerplate chain converges in ~20
    rounds where neighbor-min propagation would need 10⁶.

    Each round is one parquet write of the large-star output; the write
    is the round's only action.  An ``observe`` on the large-star
    aggregate rides on it and counts the UNSETTLED nodes of the
    small-star output S, so the stop test costs no job and is exact —
    no signature, no confirming diff, no overshoot rounds.  A node is
    settled iff all its neighbors are larger (a centre) or it has
    exactly one neighbor and that neighbor is smaller (a leaf).
    Certificate: if every node of S is settled, a leaf's neighbor c is
    smaller than it, so c has a larger neighbor and is not a leaf —
    c is a centre; a centre's neighbors are larger, so none is a
    centre — each is a leaf whose one edge is that centre.  Every
    component of S is therefore a star whose centre is its minimum,
    and large-star maps such an S to itself (a centre re-emits its
    leaves, a leaf has no larger neighbor), so the written edges are
    (member, component minimum) pairs; star rounds preserve
    connectivity, so that minimum is the input component's.  The
    converse is immediate, so the loop stops at the first round whose
    S is a star forest.  The same observe reports the largest
    component, ``max(leaves) + 1``, exact on that round.

    Metrics: ``cc_iterations`` (rounds run), ``cc_changed_per_iter``
    (unsettled nodes per round, 0 last), ``cc_edges_per_check`` (edges
    written per round), ``cc_max_component``, ``cc_mode``.

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

    # Per-round PARQUET round-trip, not localCheckpoint, for the loop
    # feedback.  localCheckpoint truncates lineage but the resulting
    # LogicalRDD INHERITS the pre-checkpoint sizeInBytes estimate, which
    # compounds across feedback rounds until the driver spends minutes
    # multiplying million-digit BigIntegers inside stats estimation
    # (reproduced with the self-join form of this loop).  A parquet read
    # is a fresh leaf with REAL file statistics, so estimates reset every
    # round; reading it with its known schema starts no inference job.
    # The scratch lives on the default Hadoop filesystem (HDFS under
    # YARN, where a bare path resolves), so it is deleted through it.
    spark = nodes.sparkSession
    jvm = spark.sparkContext._jvm
    scratch = jvm.org.apache.hadoop.fs.Path(
        f"{tempfile.gettempdir()}/cc_edges_{uuid.uuid4().hex}"
    )
    fs = scratch.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    scratch = fs.makeQualified(scratch)

    star = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    history: list[int] = []
    rows_per_round: list[int] = []
    try:
        while not history or history[-1]:
            if len(history) == cfg.cc_max_iters:
                raise RuntimeError(
                    f"connected_components did not converge in {cfg.cc_max_iters} "
                    f"rounds (unsettled nodes per round: {history[-5:]})"
                )
            obs = Observation()
            path = f"{scratch.toString()}/round_{len(history) + 1}"
            _large_star(_small_star(star), obs).write.parquet(path)
            star = spark.read.schema(_EDGE_SCHEMA).parquet(path)
            seen = obs.get
            history.append(int(seen["unsettled"]))
            rows_per_round.append(int(seen["rows"]))
            max_component = int(seen["leaves"]) + 1
        # the written stars are (u=member, v=component-min centre);
        # nodes without an edge label themselves
        labels = nodes.join(
            star.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")),
            "doc_id",
            "left",
        ).select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
        # one final localCheckpoint pins the result in block storage so
        # the scratch can be deleted (single feedback-free hop: the
        # inherited-stats compounding above cannot recur)
        labels = labels.localCheckpoint(eager=True)
    finally:
        fs.delete(scratch, True)

    metrics = {
        "cc_iterations": len(history),
        "cc_changed_per_iter": history,
        "cc_edges_per_check": rows_per_round,
        "cc_max_component": max_component,
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
