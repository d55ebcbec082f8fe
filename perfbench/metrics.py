"""Names, units and directions of every metric the benchmark prints.
BENCHMARK.json lists the same metrics; perfbench/test_perfbench.py
keeps the two in step."""

from __future__ import annotations

import re

from perfbench.trace import LAYER_FIELDS, LAYERS
from perfbench.workloads import STAGES

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# (name, unit, better, bound)
# Timings get the largest bound: on a shared 4-core host the same run
# varies by 10-20% from one process to the next, and the host's speed
# drifts by more over minutes.
END_TO_END = (
    ("cold_wall_s", "s", "lower", 0.25),
    ("files_per_s", "1/s", "higher", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.2),
    ("stored_bytes_per_input_byte", "B/B", "lower", 0.2),
    ("planted_recall", "frac", "higher", 0.01),
    ("base_purity", "frac", "higher", 0.01),
)

# (name, unit, better): every layer's engine metrics, then work counts
PER_LAYER = tuple(
    (f"{layer}.{suffix}", unit, better)
    for layer in LAYERS
    for suffix, unit, better in LAYER_FIELDS
) + (
    ("keys.rows", "count", "lower"),
    ("keys.distinct_keys", "count", "lower"),
    ("signatures.docs", "count", "lower"),
    ("lsh.banded_rows", "count", "lower"),
    ("lsh.buckets.plain", "count", "lower"),
    ("lsh.buckets.salted", "count", "lower"),
    ("lsh.buckets.overflow", "count", "lower"),
    ("lsh.candidate_pairs", "count", "lower"),
    ("verify.edges", "count", "lower"),
    ("verify.edge_yield", "edges/pair", "higher"),
    ("components.distributed", "flag", "lower"),
    ("components.iterations", "count", "lower"),
    ("components.nodes", "count", "lower"),
    ("repsplit.subgroups", "count", "lower"),
    ("repsplit.oversized", "count", "lower"),
    ("groups.clusters", "count", "lower"),
    ("plan.actions", "count", "lower"),
    ("report.bytes", "B", "lower"),
    ("checkpoint.reused_stages", "count", "higher"),
) + tuple(
    (f"checkpoint.{stage}.{suffix}", unit, "lower")
    for stage in STAGES
    for suffix, unit in (("s", "s"), ("bytes", "B"))
) + (
    ("trace_overhead_s", "s", "lower"),
)
