"""Benchmark entry point.

    python3 perfbench/run.py --workload exact_report --seed 1 --seconds 10 --trace 0

Run from the repository root.  One process, one Spark session on
local[<cores>]: set up (session, seeded corpus, one cold pipeline run),
then repeat the workload for ``--seconds``, checking every output.
With ``--trace 1`` a traced run follows and the per-layer metrics are
printed instead of the end-to-end ones.  The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}.
Everything the run writes stays under ``.perfbench/`` in the root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")


def _session_env(work: str) -> int:
    """Session knobs the program reads from the environment, set from
    the outside: one Python worker per core, a driver heap that fits
    the machine, workers able to import the program, and every
    temporary file under *work*.  Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEM=f"{min(1024, total_mb // 4)}m",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return cores


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    work = os.path.join(OUT, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        cores = _session_env(work)
        sys.path.insert(0, ROOT)
        from perfbench.bench import run_workload

        result = run_workload(args, work, cores, OUT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    summary, line = result
    print(summary)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
