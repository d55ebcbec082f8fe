"""SparkSession builder with the engine's execution defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _driver_mem() -> str:
    """``SPARK_DRIVER_MEM``, else half of ``MemTotal``, capped at 24g."""
    if mem := os.environ.get("SPARK_DRIVER_MEM"):
        return mem
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    return f"{min(24 * 1024, total_mb // 2)}m"


def build_session(
    app_name: str = "photo-dedup-spark",
    master: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create a SparkSession tuned for the dedup pipeline.

    - AQE on (runtime re-plan + skew-join mitigation on top of our
      explicit salting),
    - Arrow on, batch size capped so `content` batches stay bounded,
    - shuffle partitions scaled with core count,
    - one Python worker per core of the host and a driver heap of half
      its memory, unless ``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEM`` say
      otherwise.
    """
    cpus = _host_cpus()
    master = master or f"local[{cpus}]"
    # glibc maps-then-unmaps every allocation at/above 128 KiB; numpy
    # kernel temps in the signature stage sit right at that threshold,
    # so each of the 32 python workers paid mmap+page-zeroing kernel
    # time per chunk — serializing in the kernel across workers (the
    # system-time bursts in BENCH/SCALING.md's forensics).  Raise the
    # threshold so worker allocators keep and reuse those arenas; the
    # daemon-forked workers inherit this environment in local mode.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(64 * 1024 * 1024))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(64 * 1024 * 1024))
    b = SparkSession.builder.appName(app_name).master(master)
    for k, v in engine_confs(cpus).items():
        b = b.config(k, v)
    b = (
        # local mode: driver == executor JVM, so this is the entire
        # memory budget (checkpoints + shuffle + broadcast build)
        b.config("spark.driver.memory", _driver_mem())
        # long-lived JVMs recompile codegen'd stages across many jobs;
        # the 240 MB default code cache forces flush/recompile churn on
        # a multi-run driver (measured run-to-run wall oscillation in
        # BENCH/SCALING.md's plateau series) — reserve well past peak
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:ReservedCodeCacheSize=1g"
            ),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


# Shuffle width floor for hosts with few cores.
MIN_SHUFFLE_PARTITIONS = 32
# Arrow batch rows: keeps content batches ≲ 256 MiB.
ARROW_MAX_RECORDS = 2_000


def engine_confs(cpus: int) -> dict:
    """The engine's SQL-level execution defaults, as a plain dict.

    Shared by :func:`build_session` (local mode: tests, bench, CLIs)
    and :func:`build_submit_session` (cluster mode via ``spark-submit
    --py-files``, where master / executor sizing / driver memory come
    from the submit command line, never from code).  Every entry here
    is a runtime-changeable SQL conf — nothing that must be fixed
    before the JVM starts.
    """
    # 4 task waves per core, not 1: with shuffle partitions == cores a
    # stage is gated by its single slowest task (GC pause, content
    # skew), which hits the wide leg hardest — local[8] gets 4
    # self-balancing waves from the same count while local[32] got one.
    # Measured at 468k files/local[32]: signature stage 103s -> 87.5s.
    # parallelismFirst=false + a 16 MiB advisory keeps AQE from
    # coalescing the big-stage partitions back down to one wave while
    # still collapsing genuinely tiny shuffles.
    shuffle = max(MIN_SHUFFLE_PARTITIONS, 4 * cpus)
    # Scan-side wave balancing, same rule as the shuffle side: the
    # default split planning packs small inputs into ~totalSize/128MiB
    # partitions, which left the keys scan (parquet → normalize+sha)
    # running as a SINGLE 8-task wave at local[8] and 8 tasks on 32
    # cores at local[32] — the stage is gated by its slowest task and
    # the wide leg idles.  minPartitionNum is a *minimum* split count:
    # small inputs split into ≥ 4 waves per core while the 128 MiB
    # maxPartitionBytes cap still bounds per-task memory on real
    # multi-TB inputs (where totalSize/128MiB ≫ this floor anyway).
    min_scan_parts = 4 * cpus
    return {
        "spark.sql.shuffle.partitions": str(shuffle),
        "spark.sql.files.minPartitionNum": str(min_scan_parts),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_MAX_RECORDS),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
    }


def build_submit_session(
    app_name: str = "photo-dedup-spark",
    cores_hint: int | None = None,
) -> SparkSession:
    """SparkSession for ``spark-submit`` deployment (the north rule's
    ``spark-submit --py-files`` path).

    Unlike :func:`build_session` this NEVER sets master, driver memory,
    or JVM options — on a real cluster those belong to the submit
    command (``--master yarn --num-executors N --executor-cores C``),
    and setting them post-JVM-start would be silently ignored anyway.
    Only runtime-changeable SQL confs are applied, scaled by
    *cores_hint* (total executor cores; defaults to
    ``spark.default.parallelism`` once the session is up).
    """
    b = SparkSession.builder.appName(app_name)
    spark = b.getOrCreate()
    if cores_hint is None:
        cores_hint = max(1, spark.sparkContext.defaultParallelism)
    for k, v in engine_confs(cores_hint).items():
        spark.conf.set(k, v)
    return spark
