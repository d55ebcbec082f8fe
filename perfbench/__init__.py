"""Benchmark for the photo_dedup_spark engine: seeded planted corpora,
untraced end-to-end runs with output checks, and a traced per-layer run.
Entry point: ``python3 perfbench/run.py`` (see perfbench/README.md)."""
