"""One benchmark run: session, seeded corpus, the timed batch job, optional
warm and traced runs, output checks, metrics."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import SparkContext

from perfbench.check import check_assignments, fingerprint
from perfbench.corpus import Truth, corpus_rows, write_corpus
from perfbench.metrics import END_TO_END, PER_LAYER
from perfbench.rss import PeakRss, descendants
from perfbench.trace import Tracer
from perfbench.workloads import WORKLOADS, Ctx, Sample, Workload
from photo_dedup_spark.session import build_session


class Ledger:
    """Checks every sample and counts attempts and failures.  A sample
    fails when it raises, fails the output check, or its assignment
    fingerprint differs from the run's first one."""

    def __init__(self, wl: Workload, truth: Truth):
        self._wl = wl
        self._truth = truth
        self.attempted = 0
        self.failed = 0
        self.fingerprint: str | None = None
        self.recall = 1.0
        self.cross_base_merge = 0.0

    def take(self, fn: Callable[[Ctx], Sample], ctx: Ctx) -> Sample | None:
        self.attempted += 1
        try:
            s = fn(ctx)
        except Exception:  # a failed run is counted, and the run goes on
            traceback.print_exc()
            self.failed += 1
            return None
        res = check_assignments(s.assign, self._truth, self._wl.near_expected)
        errors = res.errors + s.errors
        fp = fingerprint(s.assign)
        if self.fingerprint is None:
            self.fingerprint = fp
        elif fp != self.fingerprint:
            errors.append(f"assignment fingerprint {fp[:12]} != {self.fingerprint[:12]}")
        self.recall = min(self.recall, res.planted_recall)
        self.cross_base_merge = max(self.cross_base_merge, res.cross_base_merge_frac)
        print(f"[perfbench] run {self.attempted}: {s.wall_s:.3f}s", file=sys.stderr)
        if errors:
            self.failed += 1
            print(f"[perfbench] output check failed: {errors}", file=sys.stderr)
        return s


def _wait_gone(pids: list[int], timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # ended; only its parent's reaping is left
            except (FileNotFoundError, ProcessLookupError):
                break
            time.sleep(0.05)


def _stop(spark) -> None:
    """Stop the session, the JVM it launched and the JVM's Python
    workers, and wait for all of them."""
    gateway = SparkContext._gateway
    workers = descendants(gateway.proc.pid) if gateway is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on stdin EOF
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    _wait_gone(workers, timeout_s=30)  # workers exit once the JVM is gone


def _tail(walls: list[float]) -> str:
    """Highest percentile with at least ten samples above it."""
    n = len(walls)
    if n <= 10:
        return "n/a (needs > 10 samples)"
    k = n - 10  # walls[:k] lie at or below the percentile
    return f"p{100 * k // n}={sorted(walls)[k - 1]:.3f}s"


def _make_corpus(wl: Workload, seed: int, path: str) -> tuple[int, Truth]:
    rows = corpus_rows(seed, wl.n_bases, wl.chain_every)
    write_corpus(rows, path)
    return len(rows), Truth.from_rows(rows)


def run_workload(args, work: str, cores: int, out_root: str):
    wl = WORKLOADS[args.workload]
    corpus = os.path.join(work, "corpus.parquet")
    t_setup = time.monotonic()
    # the corpus is generated while the JVM starts
    with ThreadPoolExecutor(max_workers=1) as pool:
        made = pool.submit(_make_corpus, wl, args.seed, corpus)
        spark = build_session(
            app_name=f"perfbench-{wl.name}",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
    try:
        n_rows, truth = made.result()
        setup_s = time.monotonic() - t_setup
        spark.sparkContext.setLogLevel("ERROR")
        with PeakRss(SparkContext._gateway.proc.pid) as rss:
            ctx = Ctx(spark, corpus, truth, os.path.join(work, "out"))
            ledger = Ledger(wl, truth)
            # The timed sample is the workload's first run in a fresh
            # session: every spark-submit batch job pays its JIT, codegen
            # and Python-worker start-up.  Runs that fit into the rest of
            # --seconds run warm; they are checked and summarized only.
            t0 = time.monotonic()
            cold = ledger.take(wl.run, ctx)
            warm: list[Sample | None] = []
            while time.monotonic() - t0 < args.seconds:
                warm.append(ledger.take(wl.run, ctx))
            tracer = traced = before = None
            if args.trace:
                before = ledger.take(wl.run, ctx)
                tracer = Tracer(spark.sparkContext, f"{wl.name}-seed{args.seed}")
                traced = ledger.take(lambda c: wl.traced(c, tracer), ctx)
                layer_values = tracer.layer_metrics(cores)  # reads the live session
    finally:
        _stop(spark)

    if cold is None or (args.trace and (traced is None or before is None)):
        print("[perfbench] a required run failed; no result", file=sys.stderr)
        return None
    summary = (
        f"[perfbench] {wl.name} seed={args.seed} rows={n_rows} "
        f"cold={cold.wall_s:.3f}s setup={setup_s:.3f}s "
        f"rss jvm={rss.jvm_mb:.0f}MB workers={rss.workers_mb:.0f}MB "
        f"fingerprint={ledger.fingerprint[:16]}"
    )
    if "resume_s" in cold.counts:
        summary += f" resume_s={cold.counts['resume_s']:.3f}s"
    walls = [s.wall_s for s in warm if s is not None]
    if walls:
        summary += (
            f" warm wall_s median={statistics.median(walls):.3f}s "
            f"{_tail(walls)} n={len(walls)}"
        )

    if args.trace:
        os.makedirs(os.path.join(out_root, "traces"), exist_ok=True)
        tracer.dump(os.path.join(out_root, "traces", f"{tracer.run_id}.json"))
        values = {**layer_values, **traced.counts}
        # against the untraced warm run just before; the JVM is still
        # warming, so this slightly understates the overhead
        values["trace_overhead_s"] = traced.wall_s - before.wall_s
        metrics = {
            name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit, _ in PER_LAYER
        }
    else:
        values = {
            "cold_wall_s": cold.wall_s,
            "files_per_s": n_rows / cold.wall_s,
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak_mb,
            "stored_bytes_per_input_byte": cold.stored_bytes / truth.content_bytes,
            "planted_recall": ledger.recall,
            "base_purity": 1.0 - ledger.cross_base_merge,
        }
        metrics = {
            name: {"value": values[name], "unit": unit} for name, unit, _, _ in END_TO_END
        }
    line = {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": metrics,
    }
    return summary, line
