"""Benchmark harness: the registry's benched gates at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "throughput": {...},
   "cpus": <Spark default parallelism>, "nproc": <host cores>}

The default suite is every ``__spark_entry__.gates()`` record not
tagged "unbenched"; "noisy" ones keep the best of 3 runs.  The session
is ``geomesa_spark.session.get_spark`` with its defaults, the engine
configuration that tests and users get.

Env:
  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[N] parallelism (get_spark; default all cores)
  BENCH_QUERIES       comma-separated subset (default: the suite above)
  BENCH_MIN_OF        runs per query, minimum kept (default 1)

Each query is forced end-to-end with the noop sink (all columns
materialized, nothing collected to the driver).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def suite(gates) -> list[str]:
    """The default query set: every gate not tagged "unbenched"."""
    return [g.name for g in gates if "unbenched" not in g.tags]


def main() -> None:
    import __spark_entry__ as E
    from geomesa_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    gates = {g.name: g for g in E.gates()}
    names = os.environ.get("BENCH_QUERIES")
    names = names.split(",") if names else suite(gates.values())

    spark = get_spark("geomesa_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    # BENCH_MIN_OF=k (default 1, the driver protocol): time each
    # query k times and keep the minimum — this shared VM's co-tenant
    # load inflates single runs by up to ~40%, and the minimum is the
    # least-contaminated estimate when iterating locally
    min_of = max(1, int(os.environ.get("BENCH_MIN_OF", "1")))
    times: dict[str, float] = {}
    import gc

    # one untimed generic warm-up: JIT/codegen framework, parquet
    # reader + noop sink init, executor thread spin-up — otherwise
    # the FIRST measured query pays several seconds of session
    # machinery that belongs to no query
    (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("sum(crc32(cast(event_id as string)))")
        .write.format("noop").mode("overwrite").save()
    )

    for name in names:
        g = gates[name]
        best = float("inf")
        for _ in range(max(min_of, 3 if "noisy" in g.tags else 1)):
            t0 = time.time()
            g.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        times[name] = round(best, 3)
        # inter-query hygiene, not speed-up: queries that cache or
        # localCheckpoint leave blocks pinned in the shared local JVM
        # and inflate LATER queries' walls (isolated ivf_topk 1.6 s
        # measured 6.1 s late in a long suite run). Release between
        # measurements so each query is timed on its own cost.
        spark.catalog.clearCache()
        gc.collect()  # drop py refs so checkpointed RDD blocks free
        spark.sparkContext._jvm.System.gc()

    total = round(sum(times.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spatial = [k for k in ("pip_broadcast", "pip_partitioned", "knn", "tube_select")
               if k in times]
    spatial_sec = sum(times[k] for k in spatial) or 1e-9
    out = {
        "metric": "headline query suite wall time",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "throughput": {
            "spatial_join_docs_per_sec": round(
                n_events * len(spatial) / spatial_sec, 1
            ),
            "tile_assignments_per_sec": round(
                n_events / max(times.get("tile_assign", 0), 1e-9), 1
            ),
            "docs_profiled_per_sec": round(
                n_docs / max(times.get("text_profile", 0), 1e-9), 1
            ),
        },
        "cpus": spark.sparkContext.defaultParallelism,
        "nproc": os.cpu_count(),
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
