#!/usr/bin/env python
"""Extra measurement harness for optimization round 6 (guide §1).

bench.py is FROZEN for driver measurement — everything exploratory
lives here:

  --queries a,b,c   time individual declared queries with the noop sink
                    (guide §1.4: full materialization of every column,
                    no sink cost, no count() column pruning), N repeats
                    (cold first run excluded), printing per-query medians.
  --explain a,b,c   write .explain("formatted") for each query to
                    plans/r06/<name>_<tag>.txt  (tag via --tag).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0 here — the
driver's escalated bench scale), SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time


def _session(app: str):
    from photo_dedup_spark.session import build_session

    spark = build_session(app_name=app)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _drop_cached_blocks(spark) -> None:
    jsc = spark.sparkContext._jsc
    for rdd in jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark.catalog.clearCache()


def time_queries(sf_dir: str, names: list[str], repeats: int = 3) -> None:
    import __spark_entry__ as entry_mod

    spark = _session("bench-extra")
    qmap = entry_mod.queries()
    out: dict[str, dict] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"warm: {name}")
        t0 = time.monotonic()
        _noop(qmap[name](spark, sf_dir))
        cold = round(time.monotonic() - t0, 3)
        _drop_cached_blocks(spark)
        walls = []
        for i in range(repeats):
            spark.sparkContext.setJobDescription(f"run{i}: {name}")
            t0 = time.monotonic()
            _noop(qmap[name](spark, sf_dir))
            walls.append(round(time.monotonic() - t0, 3))
            _drop_cached_blocks(spark)
        med = sorted(walls)[len(walls) // 2]
        out[name] = {"cold": cold, "runs": walls, "median": med}
        print(f"  {name}: cold={cold}s runs={walls} median={med}s", file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir, "queries": out}))
    spark.stop()


def write_explains(sf_dir: str, names: list[str], tag: str) -> None:
    import __spark_entry__ as entry_mod

    spark = _session("explain")
    qmap = entry_mod.queries()
    os.makedirs("plans/r06", exist_ok=True)
    for name in names:
        df = qmap[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = f"plans/r06/{name}_{tag}.txt"
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    args = sys.argv[1:]
    if "--queries" in args:
        names = args[args.index("--queries") + 1].split(",")
        reps = int(os.environ.get("SPARK_GRAFT_EXTRA_REPEATS", "3"))
        time_queries(sf_dir, names, reps)
    elif "--explain" in args:
        names = args[args.index("--explain") + 1].split(",")
        tag = args[args.index("--tag") + 1] if "--tag" in args else "before"
        write_explains(sf_dir, names, tag)
    else:
        print(__doc__)
