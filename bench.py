#!/usr/bin/env python
"""Benchmark harness.

Default: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.  The flagship is measured WARM
(the fresh-JVM cold run is published as near_dup_clusters_cold_s) —
see run_bench for why.

--scaling-paired (round 4, the headline scaling evidence): both legs
in persistent warm JVMs, measured runs strictly alternating in ABBA
order, efficiency = median of per-pair (T8/T32)/4 — the sandbox
substitution for the north rule's N vs 4N executor criterion with the
hours-scale host-noise confound removed structurally (r3 forensics,
BENCH/SCALING.md).  Writes BENCH/scaling_paired_raw.json; render the
markdown with tools/make_scaling_md.py.

--scaling: the round-3 sequential plateau-median protocol (kept for
comparability; superseded by --scaling-paired).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time


def _bench_config(entry_mod):
    """ENTRY_CONFIG, optionally with the driver union-find shortcut
    disabled (SPARK_GRAFT_CC_FORCE_DISTRIBUTED=1) so the scaling series
    exercises the distributed label-propagation loop — the stated
    100 TB CC path (r4 VERDICT next-round #1)."""
    cfg = entry_mod.ENTRY_CONFIG
    if os.environ.get("SPARK_GRAFT_CC_FORCE_DISTRIBUTED") == "1":
        import dataclasses

        cfg = dataclasses.replace(cfg, cc_driver_max_edges=0)
    return cfg


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_bench(sf_dir: str, cpus: int) -> dict:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from photo_dedup_spark.session import build_session
    import __spark_entry__ as entry_mod

    spark = build_session(app_name=f"bench-{cpus}")
    spark.sparkContext.setLogLevel("WARN")

    headline = [
        "near_dup_clusters",   # flagship end-to-end pipeline
        "exact_dup_groups",
        "keep_selection",
        "dup_summary",
        "token_stats",
        "quality_counts",
        "fingerprints",
        "pricing_summary",
        "top_customers",
        "embedding_topk",
    ]
    qmap = entry_mod.queries()
    timings: dict[str, float] = {}
    n_files = (
        spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    )
    # The flagship is measured WARM (cold recorded alongside): the very
    # first pipeline run in a fresh JVM pays ~15-40 s of one-time
    # JIT/codegen across ~15 query stages — serial cost a long-lived
    # cluster executor amortizes away, and the cost that made
    # BENCH_r03's recorded headline a 2.4× outlier vs the same night's
    # warm runs.  Same warm-measurement rule as the scaling protocol
    # (BENCH/SCALING.md); both numbers are published.
    t0 = time.monotonic()
    n = qmap["near_dup_clusters"](spark, sf_dir).count()
    cold_flagship = round(time.monotonic() - t0, 3)
    print(
        f"  near_dup_clusters (cold, excluded): {cold_flagship}s ({n} rows)",
        file=sys.stderr,
    )
    _drop_cached_blocks(spark)
    t_all = time.monotonic()
    for name in headline:
        t0 = time.monotonic()
        df = qmap[name](spark, sf_dir)
        n = df.count()  # materialize fully
        timings[name] = round(time.monotonic() - t0, 3)
        print(f"  {name}: {timings[name]}s ({n} rows)", file=sys.stderr)
    total = round(time.monotonic() - t_all, 3)

    pipeline_s = timings["near_dup_clusters"]
    result = {
        "metric": (
            "headline query wall time (flagship near-dup pipeline + operator"
            " queries; flagship warm — cold JVM first run in"
            " near_dup_clusters_cold_s)"
        ),
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_of(sf_dir),
        "cpus": cpus,
        "docs": n_files,
        "near_dup_clusters_cold_s": cold_flagship,
        "pipeline_files_per_sec": round(n_files / pipeline_s, 1) if pipeline_s else None,
    }
    spark.stop()
    return result


def run_scaling(sf_dir: str) -> None:
    """Fresh-JVM runs at local[8] vs local[32]; report efficiency.

    Input: the deterministic synthetic bench corpus (BASELINE.md
    "largest generated scale") — the driver's sf0.1 documents (5k tiny
    rows) are overhead-dominated at local[32], so the scaling evidence
    uses a corpus big enough that parallel signature/verify compute
    dominates.  Generation runs once (untimed), parallel in Spark,
    content deterministic per id.
    """
    # 360k bases ≈ 470k files: big enough that parallel signature/verify
    # compute dominates the fixed per-run floor (~15-25 s of job
    # scheduling + stage barriers, measured via stage timing) — the
    # same amortization a 1000-executor cluster gets at 100 TB.  At
    # 120k bases the floor alone caps efficiency at ~0.72; round 3
    # grew the corpus after cutting per-run compute (single normalize
    # pass, L2-blocked kernels) shrank the parallel fraction.
    n_bases = int(os.environ.get("SPARK_GRAFT_BENCH_BASES", "360000"))
    corpus_dir = os.environ.get("SPARK_GRAFT_BENCH_DIR", "/tmp/spark_graft_bench")
    from photo_dedup_spark.benchcorpus import materialize_bench_corpus
    from photo_dedup_spark.session import build_session

    spark = build_session(app_name="bench-corpus-gen")
    spark.sparkContext.setLogLevel("WARN")
    corpus_path = materialize_bench_corpus(spark, n_bases, corpus_dir)
    docs = spark.read.parquet(corpus_path).count()
    spark.stop()
    print(f"bench corpus: {corpus_path} ({docs} rows)", file=sys.stderr)

    results = {}
    for cpus in (8, 32):
        # taskset pins the WHOLE process tree (JVM + python workers) to
        # `cpus` physical cores: plain local[8] on a 32-core box lets
        # GC/shuffle/Arrow threads spill onto the other 24 cores, which
        # makes the small run artificially fast and understates scaling
        cmd = [sys.executable, __file__, "--single-pipeline"]
        if os.path.exists("/usr/bin/taskset"):
            cmd = ["/usr/bin/taskset", "-c", f"0-{cpus - 1}"] + cmd
        out = subprocess.run(
            cmd,
            env={
                **os.environ,
                "SPARK_GRAFT_CPUS": str(cpus),
                "SPARK_GRAFT_BENCH_CORPUS": corpus_path,
            },
            capture_output=True,
            text=True,
            check=True,
        )
        results[cpus] = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"local[{cpus}]: {results[cpus]}", file=sys.stderr)
    w8, w32 = results[8]["wall_s"], results[32]["wall_s"]
    eff = (w8 / w32) / 4
    docs = results[32]["docs"]
    lines = [
        "# BENCH — scaling (local[8] vs local[32], same input)",
        "",
        f"Input: synthetic bench corpus `{corpus_path}` ({docs} files, ~4 KB avg),",
        "flagship near-dup pipeline (exact keys → MinHash/SimHash signatures →",
        "LSH candidates → verify → connected components → keep-window).",
        "Fresh JVM per run; corpus generation excluded from timing; shuffle",
        "partitions scale with cores; all other config identical.",
        "",
        "| parallelism | median wall (s) | cold wall (s) | throughput (files/s, median) |",
        "|---|---|---|---|",
        f"| local[8]  | {w8:.2f} | {results[8].get('cold_wall_s', float('nan')):.2f} | {docs / w8:.1f} |",
        f"| local[32] | {w32:.2f} | {results[32].get('cold_wall_s', float('nan')):.2f} | {docs / w32:.1f} |",
        "",
        f"**Scaling efficiency (T8/T32)/4 = {eff:.3f}** (target ≥ 0.8 per BASELINE.md).",
        "",
        "Plateau-median protocol (per leg, same JVM, cached blocks dropped",
        "between runs): one cold run, then warm-up runs until two consecutive",
        "runs agree within 5% (the plateau), then the reported wall is the",
        "MEDIAN of 5 post-plateau runs — robust to a favorable draw, unlike",
        "the round-2 best-of-three.  Full run series:",
        "",
        f"- local[8]: cold {results[8].get('cold_wall_s')}, plateau"
        f" {results[8].get('plateau_walls_s')}, measured"
        f" {results[8].get('measured_walls_s')} → median {w8:.2f}",
        f"- local[32]: cold {results[32].get('cold_wall_s')}, plateau"
        f" {results[32].get('plateau_walls_s')}, measured"
        f" {results[32].get('measured_walls_s')} → median {w32:.2f}",
        "",
        "A fresh local JVM spends minutes of SERIAL time in JIT/codegen",
        "across the pipeline's ~15 query stages, which long-lived cluster",
        "executors amortize; cold numbers are reported alongside for",
        "transparency.  Round-2 efficiency was 0.804 best-of-three (median",
        "~0.61); round-3 additionally (a) batch-verifies pairs with one",
        "lexsort per Arrow batch instead of per-pair intersect1d, (b) checks",
        "CC convergence every 2 rounds (half the blocking actions in the",
        "iterative loop), and (c) pre-buckets megacomponents so no single",
        "Python task is quadratic in an unbounded group.",
        "",
        "This is the sandbox substitution for the north rule's N vs 4N executor",
        "criterion (no real cluster available; see BASELINE.md).",
    ]
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/SCALING.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(json.dumps({"scaling_efficiency": round(eff, 3), "wall_8": w8, "wall_32": w32}))


def _drop_cached_blocks(spark) -> None:
    # localCheckpoint blocks from a finished run otherwise pile up and
    # squeeze later runs into GC churn — release them so every timed
    # run sees the same memory state
    jsc = spark.sparkContext._jsc
    for rdd in jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark.catalog.clearCache()


def run_leg_server(cpus: int) -> None:
    """Persistent warm-JVM leg for the paired-interleave scaling
    protocol (--scaling-paired).

    Warms up (1 cold + N warm runs), then executes exactly one
    flagship-pipeline run per ``go_<cpus>_<i>`` token the orchestrator
    drops into $SPARK_GRAFT_CTRL_DIR, writing ``res_<cpus>_<i>.json``
    per run.  Keeping the JVM alive across the whole paired series is
    what lets runs of the two legs interleave in TIME while each leg
    stays at its JIT steady state — the round-3 protocol ran the legs
    sequentially (hours apart), so hours-scale host-noise regimes hit
    one leg and not the other (BENCH/SCALING.md r3 forensics)."""
    ctrl = os.environ["SPARK_GRAFT_CTRL_DIR"]
    corpus = os.environ["SPARK_GRAFT_BENCH_CORPUS"]
    warmups = int(os.environ.get("SPARK_GRAFT_LEG_WARMUPS", "3"))
    from photo_dedup_spark.session import build_session
    from photo_dedup_spark.pipeline import run_pipeline
    import __spark_entry__ as entry_mod

    spark = build_session(app_name=f"scale-leg-{cpus}")
    spark.sparkContext.setLogLevel("WARN")
    docs = spark.read.parquet(corpus).count()
    cfg = _bench_config(entry_mod)

    def one_run() -> tuple[float, int]:
        t0 = time.monotonic()
        res = run_pipeline(
            spark,
            spark.read.parquet(corpus),
            cfg,
            mode="hybrid",
            collect_metrics=False,
        )
        n = res.assignments.count()
        return round(time.monotonic() - t0, 3), n

    cold, _ = one_run()
    warm = []
    for _ in range(warmups):
        _drop_cached_blocks(spark)
        w, _ = one_run()
        warm.append(w)
    with open(os.path.join(ctrl, f"ready_{cpus}.json"), "w") as f:
        json.dump({"cold_wall_s": cold, "warmup_walls_s": warm, "docs": docs}, f)

    i = 0
    stop = os.path.join(ctrl, "stop")
    while True:
        go = os.path.join(ctrl, f"go_{cpus}_{i}")
        while not os.path.exists(go):
            if os.path.exists(stop):
                spark.stop()
                return
            time.sleep(0.5)
        _drop_cached_blocks(spark)
        w, n = one_run()
        out = {"wall_s": w, "rows": n}
        tmp = os.path.join(ctrl, f".res_{cpus}_{i}.tmp")
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, os.path.join(ctrl, f"res_{cpus}_{i}.json"))
        i += 1


def run_scaling_paired(sf_dir: str) -> None:
    """Paired-interleave scaling protocol (pre-registered, round 4).

    Round 3's sequential legs confounded hours-scale host-noise regimes
    with the parallelism effect (one leg measured at night, one during a
    noisy window ⇒ median efficiency 0.531 vs noise-floor 0.816).  This
    protocol removes the confound structurally instead of arguing about
    estimators:

      * both legs live in persistent warm JVMs (local[8] pinned to
        cores 0-7 via taskset, local[32] on all cores);
      * measured runs strictly ALTERNATE between the legs (never
        concurrent), in ABBA order across pairs so linear drift cancels
        within as well as across pairs;
      * pair i yields efficiency_i = (T8_i / T32_i) / 4 from two runs
        minutes apart — any noise regime lasting longer than one pair
        hits both legs of that pair equally;
      * the HEADLINE (pre-registered before measurement) is the MEDIAN
        of the per-pair efficiencies over all pairs.

    Corpus generation runs in a subprocess so no idle py4j JVM lingers
    through the measured legs."""
    n_bases = int(os.environ.get("SPARK_GRAFT_BENCH_BASES", "360000"))
    corpus_dir = os.environ.get("SPARK_GRAFT_BENCH_DIR", "/tmp/spark_graft_bench")
    n_pairs = int(os.environ.get("SPARK_GRAFT_PAIRS", "6"))
    # leg sizes: default 8 vs 32 threads; SPARK_GRAFT_LEGS="2,8" runs
    # the bandwidth-uncontended 2-vs-8 variant (N vs 4N in the regime
    # where one box approximates independent executors: total load
    # <= 25% of cores leaves DRAM bandwidth per core constant between
    # the legs, which is what adding executor MACHINES does on a real
    # cluster; 8v32 on one box shares a fixed memory system instead)
    lo, hi = (
        int(x) for x in os.environ.get("SPARK_GRAFT_LEGS", "8,32").split(",")
    )
    # SPARK_GRAFT_CHAIN_EVERY plants the drifting-chain mega-component
    # (benchcorpus._chain_member) — the distributed-CC series corpus
    chain_every = int(os.environ.get("SPARK_GRAFT_CHAIN_EVERY", "0"))
    chain_suffix = f"_chain{chain_every}" if chain_every else ""
    corpus_path = os.path.join(corpus_dir, f"bench_corpus_{n_bases}_18{chain_suffix}")
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        gen = (
            "from photo_dedup_spark.session import build_session;"
            "from photo_dedup_spark.benchcorpus import materialize_bench_corpus;"
            "s = build_session(app_name='bench-corpus-gen');"
            f"materialize_bench_corpus(s, {n_bases}, {corpus_dir!r},"
            f" chain_every={chain_every});"
            "s.stop()"
        )
        subprocess.run([sys.executable, "-c", gen], check=True)

    ctrl = tempfile.mkdtemp(prefix="scaling_ctrl_")
    print(f"control dir: {ctrl}", file=sys.stderr)
    base_env = {
        **os.environ,
        "SPARK_GRAFT_CTRL_DIR": ctrl,
        "SPARK_GRAFT_BENCH_CORPUS": corpus_path,
    }
    n_cores = os.cpu_count() or 32
    procs: dict[int, subprocess.Popen] = {}
    for cpus in (lo, hi):
        cmd = [sys.executable, os.path.abspath(__file__), "--leg-server"]
        if os.path.exists("/usr/bin/taskset"):
            # pin the WHOLE process tree (JVM + python workers): plain
            # local[8] on a 32-core box lets GC/shuffle/Arrow threads
            # spill onto the other 24 cores and understates scaling.
            # The two legs get DISJOINT core sets when they fit (lo leg
            # on the top cores, hi leg from core 0): with nested sets
            # the idle leg's JVM (GC/heartbeat threads, poll loop) sits
            # INSIDE the measuring leg's cores — measured ~3% drag on
            # the wide leg — and the legs' warmup runs, which execute
            # concurrently, contend directly.
            if lo + hi <= n_cores and cpus == lo:
                cores = f"{n_cores - lo}-{n_cores - 1}"
            else:
                cores = f"0-{cpus - 1}"
            cmd = ["/usr/bin/taskset", "-c", cores] + cmd
        log = open(os.path.join(ctrl, f"leg_{cpus}.log"), "w")
        procs[cpus] = subprocess.Popen(
            cmd,
            env={**base_env, "SPARK_GRAFT_CPUS": str(cpus)},
            stdout=log,
            stderr=log,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )

    def _wait_for(path: str, cpus: int) -> dict:
        while not os.path.exists(path):
            if procs[cpus].poll() is not None:
                raise RuntimeError(
                    f"leg {cpus} died; see {ctrl}/leg_{cpus}.log"
                )
            time.sleep(1.0)
        with open(path) as f:
            return json.load(f)

    ready = {c: _wait_for(os.path.join(ctrl, f"ready_{c}.json"), c) for c in (lo, hi)}
    print(f"legs warm: {ready}", file=sys.stderr)

    def one(cpus: int, i: int) -> dict:
        with open(os.path.join(ctrl, f"go_{cpus}_{i}"), "w"):
            pass
        return _wait_for(os.path.join(ctrl, f"res_{cpus}_{i}.json"), cpus)

    series: dict[int, list[float]] = {lo: [], hi: []}
    pair_eff: list[float] = []
    ratio = hi / lo
    for i in range(n_pairs):
        order = (lo, hi) if i % 2 == 0 else (hi, lo)  # ABBA
        walls = {}
        for cpus in order:
            walls[cpus] = one(cpus, i)["wall_s"]
            series[cpus].append(walls[cpus])
        pair_eff.append(round((walls[lo] / walls[hi]) / ratio, 3))
        print(
            f"pair {i} ({order[0]} first): T{lo}={walls[lo]} T{hi}={walls[hi]}"
            f" eff={pair_eff[-1]}",
            file=sys.stderr,
        )
    with open(os.path.join(ctrl, "stop"), "w") as f:
        f.write("done")
    for p in procs.values():
        p.wait(timeout=120)

    eff_sorted = sorted(pair_eff)
    n = len(eff_sorted)
    median_eff = (
        eff_sorted[n // 2]
        if n % 2
        else (eff_sorted[n // 2 - 1] + eff_sorted[n // 2]) / 2
    )
    docs = ready[hi]["docs"]
    raw = {
        "protocol": "paired-interleave ABBA, median of per-pair efficiencies",
        "legs": [lo, hi],
        "pairs": n_pairs,
        "pair_efficiencies": pair_eff,
        "median_efficiency": round(median_eff, 3),
        "series": series,
        "ready": ready,
        "docs": docs,
        "corpus": corpus_path,
        "chain_every": chain_every,
        "cc_forced_distributed": os.environ.get("SPARK_GRAFT_CC_FORCE_DISTRIBUTED") == "1",
    }
    with open("BENCH/scaling_paired_raw.json", "w") as f:
        json.dump(raw, f, indent=2)
    print(json.dumps({"scaling_efficiency": round(median_eff, 3), "pair_efficiencies": pair_eff}))


def run_staged(sf_dir: str, cpus: int) -> None:
    """One staged-pipeline run (parquet checkpoints + per-stage
    metrics) on the bench corpus — turns scaling disputes into
    arithmetic: run at two $SPARK_GRAFT_CPUS values and diff the
    per-stage walls from each stage's _metrics.json (VERDICT r3 #7).
    Also exercises resume at bench scale: a second invocation with the
    same work dir reuses every finished stage (reused=True rows)."""
    import shutil

    from photo_dedup_spark.session import build_session
    from photo_dedup_spark.staged import run_staged_pipeline
    import __spark_entry__ as entry_mod

    spark = build_session(app_name=f"staged-{cpus}")
    spark.sparkContext.setLogLevel("WARN")
    corpus = os.environ.get("SPARK_GRAFT_BENCH_CORPUS")
    work = os.environ.get(
        "SPARK_GRAFT_STAGED_DIR", f"/tmp/spark_graft_staged_{cpus}"
    )
    if os.environ.get("SPARK_GRAFT_STAGED_FRESH", "1") == "1" and os.path.isdir(work):
        shutil.rmtree(work)
    files = (
        spark.read.parquet(corpus)
        if corpus
        else entry_mod._docs_as_files(spark, sf_dir)
    )
    t0 = time.monotonic()
    assignments, runner = run_staged_pipeline(
        spark, files, work, entry_mod.ENTRY_CONFIG
    )
    n = assignments.count()
    wall = round(time.monotonic() - t0, 3)
    print(
        json.dumps(
            {
                "mode": "staged",
                "cpus": cpus,
                "rows": n,
                "wall_s": wall,
                "work_dir": work,
                "stages": runner.summary(),
            }
        )
    )
    spark.stop()


def run_single_pipeline(sf_dir: str, cpus: int) -> None:
    """One flagship-pipeline run (used by --scaling subprocesses).

    Reads $SPARK_GRAFT_BENCH_CORPUS (repo_files-shaped parquet) when
    set, else the sf documents table."""
    from photo_dedup_spark.session import build_session
    from photo_dedup_spark.pipeline import run_pipeline
    import __spark_entry__ as entry_mod

    spark = build_session(app_name=f"scale-{cpus}")
    spark.sparkContext.setLogLevel("WARN")
    corpus = os.environ.get("SPARK_GRAFT_BENCH_CORPUS")

    # corpus row count is a parquet-metadata action — fetch it ONCE so
    # the timed region is purely the pipeline (it was ~1-3 s of fixed
    # per-run overhead that scales with neither cores nor data)
    docs = spark.read.parquet(corpus or f"{sf_dir}/documents.parquet").count()

    cfg = _bench_config(entry_mod)

    def one_run():
        t0 = time.monotonic()
        if corpus:
            files = spark.read.parquet(corpus)
            res = run_pipeline(
                spark, files, cfg, mode="hybrid", collect_metrics=False
            )
            n = res.assignments.count()
        else:
            n = entry_mod.queries()["near_dup_clusters"](spark, sf_dir).count()
        return round(time.monotonic() - t0, 3), n, docs

    # Plateau-median protocol (VERDICT r2: best-of-three was a
    # favorable draw — local[32] was still descending at cutoff).
    # A fresh local JVM spends minutes in C2/codegen compilation spread
    # over ~15 query stages, which is SERIAL time a long-lived cluster
    # executor amortizes away, so: (1) one cold run, (2) warm-up runs
    # until two consecutive runs agree within 5% (the plateau), (3) the
    # reported number is the MEDIAN of 5 post-plateau runs.  Every run
    # is published for transparency.
    # per-leg warmup caps: local[8] stabilizes within 2-3 warm runs
    # (run-to-run spread ~2%), while local[32] needs more runs to reach
    # its JIT/allocator steady state and its 5%-plateau test rarely
    # fires under environment noise — cap it higher instead of equal
    max_warmup = int(
        os.environ.get(
            f"SPARK_GRAFT_MAX_WARMUP_{cpus}",
            os.environ.get("SPARK_GRAFT_MAX_WARMUP", "5" if cpus >= 32 else "3"),
        )
    )
    cold_wall, _, _ = one_run()
    plateau_walls = []
    for _ in range(max_warmup):
        _drop_cached_blocks(spark)
        w, _, _ = one_run()
        plateau_walls.append(w)
        if (
            len(plateau_walls) >= 2
            and abs(plateau_walls[-1] - plateau_walls[-2])
            <= 0.05 * min(plateau_walls[-1], plateau_walls[-2])
        ):
            break
    walls = []
    n = 0
    for _ in range(int(os.environ.get("SPARK_GRAFT_MEASURED_RUNS", "5"))):
        _drop_cached_blocks(spark)
        w, n, _ = one_run()
        walls.append(w)
    spark.stop()
    median = sorted(walls)[len(walls) // 2]
    print(
        json.dumps(
            {
                "wall_s": median,
                "measured_walls_s": walls,
                "plateau_walls_s": plateau_walls,
                "cold_wall_s": cold_wall,
                "rows": n,
                "docs": docs,
                "cpus": cpus,
            }
        )
    )


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if "--scaling-paired" in sys.argv:
        run_scaling_paired(sf_dir)
    elif "--leg-server" in sys.argv:
        run_leg_server(cpus)
    elif "--scaling" in sys.argv:
        run_scaling(sf_dir)
    elif "--single-pipeline" in sys.argv:
        run_single_pipeline(sf_dir, cpus)
    elif "--staged" in sys.argv:
        run_staged(sf_dir, cpus)
    else:
        print(json.dumps(run_bench(sf_dir, cpus)))
