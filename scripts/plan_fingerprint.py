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

It also prints the plans of the other geometry-kernel users, which
no perfbench workload reaches:

- ``geom``: ``geom_scan``, ``geom_join_broadcast`` and
  ``geom_dwithin_join`` over a small seeded line/polygon table;
- ``ecql``: a ``DWITHIN`` residual against a polygon and a
  ``TOUCHES`` residual against a line, over the ``query`` table.

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

import numpy as np

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


def _ring(rng, n: int, closed: bool) -> str:
    """`n` seeded vertices around a random centre, as WKT coordinates."""
    cx, cy = rng.uniform(-150, 150), rng.uniform(-60, 60)
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    r = rng.uniform(1, 8, n)
    pts = [(cx + ri * np.cos(a), cy + ri * np.sin(a)) for a, ri in zip(ang, r)]
    if closed:
        pts.append(pts[0])
    return ", ".join(f"{x!r} {y!r}" for x, y in pts)


def _geom_plans(spark, seed: int):
    """(name, DataFrame) for each geom_data refine over a seeded table."""
    from geomesa_spark.operators import geom_data as GD

    rng = np.random.default_rng(seed)
    rows = [
        (f"g{i}", f"POLYGON (({_ring(rng, 5, True)}))" if i % 2
         else f"LINESTRING ({_ring(rng, 3, False)})")
        for i in range(60)
    ]
    gdf = GD.geom_table(spark.createDataFrame(rows, "gid string, geom_wkt string"))
    polys = [(f"p{i}", f"POLYGON (({_ring(rng, 6, True)}))") for i in range(4)]
    return [
        ("geom_scan", GD.geom_scan(gdf, polys[0][1]).select("gid")),
        ("geom_join_broadcast",
         GD.geom_join_broadcast(gdf, polys).select("gid", "poly_id")),
        ("geom_dwithin_join",
         GD.geom_dwithin_join(gdf, polys, 2.0).select("gid", "poly_id")),
    ], polys


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
            geom_plans, polys = _geom_plans(spark, seed)
            for name, df in geom_plans:
                print(f"geom seed={seed} op={name} {fingerprint(df)}", flush=True)
            line = f"LINESTRING ({_ring(np.random.default_rng(seed), 4, False)})"
            for op, text in [
                ("dwithin_polygon",
                 f"DWITHIN(geom, {polys[1][1]}, 50, kilometers)"),
                ("touches_line", f"TOUCHES(geom, {line})"),
            ]:
                df = ecql.ecql_scan(q.table, text).select("doc_id")
                print(f"ecql seed={seed} op={op} {fingerprint(df)}", flush=True)
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
