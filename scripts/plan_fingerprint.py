"""Fingerprint the optimized logical plans of the perfbench workloads.

For each seed, builds the perfbench inputs exactly as a perfbench
set-up does (the z3 docs table for ``query``, the points, polygons
and tile layer for ``join_tiles``) and prints one sha256 per plan:

- ``query``: every kind of rounds 0..R-1 of ``gen.query_round``,
  built the way the workload builds it
  (``ecql.ecql_scan(table, text).select("doc_id")``);
- ``join_tiles``: the ``pip`` op (``pip_join_broadcast``) and the
  ``vector_tiles`` op (``tile_cut`` -> ``enforce_winding`` ->
  ``mvt_encode``).

Expression ids, object addresses, file paths and the counters in
lambda variable names are stripped before hashing, so two checkouts
that build the same plans print the same lines. Rows of driver-built
tables (a ``LocalRelation``, such as the broadcast polygon cover) are
not part of the plan text: a change to those rows alone keeps its
fingerprint. No query runs: only the plans are built
(``pip_join_broadcast`` does its usual driver-side cover work).
``perfbench/`` is imported, never written to.

    python scripts/plan_fingerprint.py [--seeds 7 305] [--rounds 3]

Run it in each checkout and diff the outputs.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import re
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

_NOISE = [
    (re.compile(r"#\d+L?"), "#"),                      # expression ids
    (re.compile(r"@[0-9a-f]{4,}"), "@"),               # object addresses
    (re.compile(r"(file:)?(/[\w.=-]+){2,}/?"), "<path>"),  # file paths
    # PySpark numbers lambda variables from a process-wide counter
    (re.compile(r"(lambda [A-Za-z]+)_\d+"), r"\1"),
]


def fingerprint(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for pat, rep in _NOISE:
        plan = pat.sub(rep, plan)
    return hashlib.sha256(plan.encode()).hexdigest()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, nargs="+", default=[7, 305])
    ap.add_argument("--rounds", type=int, default=3)
    args = ap.parse_args(argv)

    import gen
    import workloads
    from geomesa_spark.operators import tilecut
    from geomesa_spark.operators.spatial_join import pip_join_broadcast
    from geomesa_spark.plans import ecql
    from geomesa_spark.session import get_spark
    from geomesa_spark.sources import mvt

    spark = get_spark("plan_fingerprint")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="plan_fingerprint_")
    try:
        for seed in args.seeds:
            q = workloads.Query(spark, seed, os.path.join(work, f"q{seed}"))
            os.makedirs(q.work)
            q.setup()
            for rnd in range(args.rounds):
                for query in gen.query_round(seed, rnd, q.pts):
                    df = ecql.ecql_scan(q.table, query.ecql).select("doc_id")
                    print(f"query seed={seed} round={rnd} kind={query.kind} "
                          f"{fingerprint(df)}", flush=True)
            jt = workloads.JoinTiles(spark, seed, os.path.join(work, f"j{seed}"))
            os.makedirs(jt.work)
            jt.setup()
            pip = pip_join_broadcast(jt.points, jt.poly_list).select(
                "doc_id", "poly_id")
            print(f"join_tiles seed={seed} op=pip {fingerprint(pip)}", flush=True)
            tiles = mvt.mvt_encode(tilecut.enforce_winding(
                tilecut.tile_cut(jt.layer, workloads.SIZES["tile_zoom"])))
            print(f"join_tiles seed={seed} op=vector_tiles {fingerprint(tiles)}",
                  flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
