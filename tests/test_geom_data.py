"""Non-point data-geometry join/scan vs the numpy brute-force twin.

Mirrors Z3IdxStrategyTest semantics generalized to non-point rows
(STIdxStrategy.scala:218-243 plans arbitrary-geometry rows; dedup of
multi-cell rows IndexSchema.scala:300-307)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geomesa_spark.functions import geometry as G
from geomesa_spark.operators import geom_data as GD

QUERY_POLYS = [
    ("rect", "POLYGON ((10.005 20.005, 80.005 20.005, 80.005 60.005, "
             "10.005 60.005, 10.005 20.005))"),
    ("tri", "POLYGON ((-120.005 -40.005, -60.005 -40.005, -90.005 30.005, "
            "-120.005 -40.005))"),
    ("holed", "POLYGON ((100.005 -20.005, 160.005 -20.005, 160.005 40.005, "
              "100.005 40.005, 100.005 -20.005), "
              "(120.005 -5.005, 140.005 -5.005, 140.005 20.005, "
              "120.005 20.005, 120.005 -5.005))"),
]


def _rand_geoms(n=300, seed=42):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        x = rng.uniform(-170, 160)
        y = rng.uniform(-80, 70)
        kind = i % 3
        if kind == 0:  # 3-vertex polyline
            dx1, dy1 = rng.uniform(1, 15), rng.uniform(-10, 10)
            dx2, dy2 = rng.uniform(1, 15), rng.uniform(-10, 10)
            wkt = (f"LINESTRING ({x} {y}, {x + dx1} {y + dy1}, "
                   f"{x + dx1 + dx2} {y + dy1 + dy2})")
        elif kind == 1:  # triangle
            dx, dy = rng.uniform(2, 12), rng.uniform(2, 12)
            wkt = (f"POLYGON (({x} {y}, {x + dx} {y}, {x + dx / 2} {y + dy}, "
                   f"{x} {y}))")
        else:  # point
            wkt = f"POINT ({x} {y})"
        rows.append((f"g{i}", wkt))
    return rows


@pytest.fixture(scope="module")
def geoms_df(spark):
    df = GD.geom_table(
        spark.createDataFrame(_rand_geoms(), "gid string, geom_wkt string")
    ).cache()
    df.count()
    return df


def test_geom_join_matches_bruteforce(spark, geoms_df):
    out = GD.geom_join_broadcast(geoms_df, QUERY_POLYS, bits=5)
    got = sorted((r.gid, r.poly_id) for r in out.select("gid", "poly_id").collect())
    qs = {pid: G.parse_wkt(wkt) for pid, wkt in QUERY_POLYS}
    exp = sorted(
        (gid, pid)
        for gid, wkt in _rand_geoms()
        for pid, q in qs.items()
        if G.geom_intersects(G.parse_wkt(wkt), q)
    )
    assert got == exp


def test_geom_join_dedups_multicell(spark, geoms_df):
    out = GD.geom_join_broadcast(geoms_df, QUERY_POLYS, bits=5)
    pairs = out.select("gid", "poly_id").collect()
    assert len(pairs) == len({(r.gid, r.poly_id) for r in pairs})


def test_geom_scan_matches_bruteforce(spark, geoms_df):
    for pid, wkt in QUERY_POLYS:
        got = sorted(r.gid for r in GD.geom_scan(geoms_df, wkt).select("gid").collect())
        q = G.parse_wkt(wkt)
        exp = sorted(
            gid for gid, w in _rand_geoms() if G.geom_intersects(G.parse_wkt(w), q)
        )
        assert got == exp, pid


def test_hole_semantics(spark):
    """A geometry entirely inside a hole does not intersect; one
    crossing the hole boundary does."""
    rows = [
        ("inside_hole", "POLYGON ((128 2, 132 2, 130 6, 128 2))"),
        ("crosses_hole", "LINESTRING (110 8, 130 8)"),
        ("in_shell", "POINT (105 30)"),
    ]
    gdf = GD.geom_table(spark.createDataFrame(rows, "gid string, geom_wkt string"))
    out = GD.geom_join_broadcast(gdf, QUERY_POLYS[2:], bits=5)
    got = sorted(r.gid for r in out.select("gid").collect())
    assert got == ["crosses_hole", "in_shell"]


def test_polygon_containing_query(spark):
    """Data polygon fully containing the query polygon intersects it
    (only the query-vertex-in-data term can detect this)."""
    rows = [("big", "POLYGON ((-179 -85, 179 -85, 179 85, -179 85, -179 -85))")]
    gdf = GD.geom_table(spark.createDataFrame(rows, "gid string, geom_wkt string"))
    out = GD.geom_join_broadcast(gdf, QUERY_POLYS[:1], bits=5)
    assert [r.gid for r in out.select("gid").collect()] == ["big"]


def test_bbox_pushdown_shape(spark, geoms_df):
    """geom_scan's bbox predicates are plain comparisons (pushable);
    no Python eval node appears in the plan."""
    plan = (
        GD.geom_scan(geoms_df, QUERY_POLYS[0][1])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_geom_table_native_parity(spark, geoms_df):
    """The all-JVM WKT parser produces the same kind/bbox/edges as
    the Python parser for simple geometries (bit-identical doubles:
    both parsers are correctly-rounded string->double)."""
    src = spark.createDataFrame(_rand_geoms(), "gid string, geom_wkt string")
    a = {r.gid: r for r in GD.geom_table_native(src).collect()}
    b = {r.gid: r for r in geoms_df.collect()}
    assert set(a) == set(b)
    for gid in a:
        ra, rb = a[gid], b[gid]
        assert ra.kind == rb.kind, gid
        assert (ra.xmin, ra.ymin, ra.xmax, ra.ymax) == (
            rb.xmin, rb.ymin, rb.xmax, rb.ymax
        ), gid
        assert [tuple(e) for e in ra.edges] == [tuple(e) for e in rb.edges], gid


def test_geom_table_native_holed(spark):
    src = spark.createDataFrame(
        [("h", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
               "(2 2, 4 2, 4 4, 2 4, 2 2))")],
        "gid string, geom_wkt string",
    )
    r = GD.geom_table_native(src).collect()[0]
    assert r.kind == "POLYGON" and len(r.edges) == 8
    out = GD.geom_join_broadcast(
        GD.geom_table_native(
            spark.createDataFrame(_rand_geoms(), "gid string, geom_wkt string")
        ),
        QUERY_POLYS,
        bits=5,
    )
    got = sorted((x.gid, x.poly_id) for x in out.select("gid", "poly_id").collect())
    qs = {pid: G.parse_wkt(wkt) for pid, wkt in QUERY_POLYS}
    exp = sorted(
        (gid, pid)
        for gid, wkt in _rand_geoms()
        for pid, q in qs.items()
        if G.geom_intersects(G.parse_wkt(wkt), q)
    )
    assert got == exp


def test_geom_dwithin_join_matches_bruteforce(spark, geoms_df):
    DIST = 3.0
    out = GD.geom_dwithin_join(geoms_df, QUERY_POLYS, DIST, bits=5)
    got = sorted((r.gid, r.poly_id) for r in out.select("gid", "poly_id").collect())
    qs = {pid: G.parse_wkt(wkt) for pid, wkt in QUERY_POLYS}
    exp = sorted(
        (gid, pid)
        for gid, wkt in _rand_geoms()
        for pid, q in qs.items()
        if G.geom_dwithin(G.parse_wkt(wkt), q, DIST)
    )
    assert got == exp
    # dwithin is a strict superset of intersects at positive distance
    inter = {
        (gid, pid)
        for gid, wkt in _rand_geoms()
        for pid, q in qs.items()
        if G.geom_intersects(G.parse_wkt(wkt), q)
    }
    assert inter <= set(got)


def test_geom_join_partitioned_matches_broadcast(spark, geoms_df):
    polys_df = spark.createDataFrame(QUERY_POLYS, "poly_id string, geom_wkt string")
    got = sorted(
        (r.gid, r.poly_id)
        for r in GD.geom_join_partitioned(geoms_df, polys_df, bits=5)
        .select("gid", "poly_id")
        .collect()
    )
    exp = sorted(
        (r.gid, r.poly_id)
        for r in GD.geom_join_broadcast(geoms_df, QUERY_POLYS, bits=5)
        .select("gid", "poly_id")
        .collect()
    )
    assert got == exp


def test_geom_join_partitioned_budget_overflow(spark, geoms_df):
    """An over-budget polygon degrades to a coarse cover group;
    results stay exact (mixed-resolution layer)."""
    polys_df = spark.createDataFrame(QUERY_POLYS, "poly_id string, geom_wkt string")
    got = sorted(
        (r.gid, r.poly_id)
        for r in GD.geom_join_partitioned(geoms_df, polys_df, bits=12, budget=64)
        .select("gid", "poly_id")
        .collect()
    )
    qs = {pid: G.parse_wkt(wkt) for pid, wkt in QUERY_POLYS}
    exp = sorted(
        (gid, pid)
        for gid, wkt in _rand_geoms()
        for pid, q in qs.items()
        if G.geom_intersects(G.parse_wkt(wkt), q)
    )
    assert got == exp


def test_geom_dwithin_meters(spark, geoms_df):
    """Meters radius converts per polygon at its center latitude
    (FilterHelper degree rewrite) — results equal the degree-space
    join at the converted distance."""
    M = 300_000.0
    got = sorted(
        (r.gid, r.poly_id)
        for r in GD.geom_dwithin_join(
            geoms_df, QUERY_POLYS[:1], M, bits=5, dist_in_meters=True
        ).select("gid", "poly_id").collect()
    )
    pid, wkt = QUERY_POLYS[0]
    g = G.parse_wkt(wkt)
    # single-step at the poleward extreme: distanceDegrees parity
    # (the converted value IS the planar match radius)
    lat_ext = max(abs(g.bounds[1]), abs(g.bounds[3]))
    deg = G.meters_to_degrees(M, lat_ext)
    exp = sorted(
        (gid, pid)
        for gid, w in _rand_geoms()
        if G.geom_dwithin(G.parse_wkt(w), g, deg)
    )
    assert got == exp


def test_geom_scan_temporal_and_sorted_layout(spark, tmp_path, pushed_filters):
    """write_geom_table layout + geom_scan time pruning: exact
    results, bbox predicates visible as pushed filters."""
    from datetime import datetime, timedelta, timezone

    import pandas as pd
    from geomesa_spark.functions import cells as C

    base = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = []
    for i, (gid, wkt) in enumerate(_rand_geoms(120)):
        rows.append((gid, wkt, base + timedelta(hours=i * 7)))
    src = spark.createDataFrame(
        pd.DataFrame(rows, columns=["gid", "geom_wkt", "dtg"])
    )
    gdf = GD.geom_table(src).withColumn("week", C.week(F.col("dtg")))
    path = str(tmp_path / "geoms")
    GD.write_geom_table(gdf, path, partitions=4)
    stored = spark.read.parquet(path)

    pid, wkt = QUERY_POLYS[0]
    t0, t1 = base + timedelta(days=6), base + timedelta(days=24)
    out = GD.geom_scan(stored, wkt, t0=t0, t1=t1)
    got = sorted(r.gid for r in out.select("gid").collect())
    q = G.parse_wkt(wkt)
    exp = sorted(
        gid
        for i, (gid, w) in enumerate(_rand_geoms(120))
        if G.geom_intersects(G.parse_wkt(w), q)
        and t0 <= base + timedelta(hours=i * 7) < t1
    )
    assert got == exp
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "xmin" in plan
    # the time bounds come after the bbox terms, past character 100
    pushed = pushed_filters(plan)
    assert "LessThanOrEqual(ymin,60.005)" in pushed
    assert "LessThan(dtg,2024-01-25 00:00:00.0)" in pushed

    # a lower bound alone still prunes on week (every earlier week
    # is skipped), and the answer stays exact
    import re

    out = GD.geom_scan(stored, wkt, t0=t0)
    got = sorted(r.gid for r in out.select("gid").collect())
    exp = sorted(
        gid
        for i, (gid, w) in enumerate(_rand_geoms(120))
        if G.geom_intersects(G.parse_wkt(w), q)
        and t0 <= base + timedelta(hours=i * 7)
    )
    assert got == exp and exp
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    w0 = int(t0.timestamp()) // C.SECONDS_IN_WEEK
    assert re.search(rf"\(week#\d+ >= {w0}\)", plan)


# --- regression tests from the round-2 code review ---

IDL_LAYER = [("idl", "POLYGON ((170 -10, -170 -10, -170 20, 170 20, 170 -10))")]


def test_geom_join_idl_layer_polygon(spark):
    """An IDL-crossing layer polygon's raw bounds are the COMPLEMENT
    box; the cover must come from the normalized pieces or seam-side
    geometries silently drop."""
    rows = [
        ("east", "LINESTRING (174 0, 178 5)"),
        ("west", "LINESTRING (-178 0, -173 5)"),
        ("mid", "POINT (0 0)"),
    ]
    gdf = GD.geom_table(spark.createDataFrame(rows, "gid string, geom_wkt string"))
    got = sorted(r.gid for r in GD.geom_join_broadcast(gdf, IDL_LAYER, bits=5)
                 .select("gid").collect())
    assert got == ["east", "west"]
    got_dw = sorted(
        r.gid for r in GD.geom_dwithin_join(gdf, IDL_LAYER, 2.0, bits=5)
        .select("gid").collect()
    )
    assert got_dw == ["east", "west"]


def test_split_idl_hole_on_other_branch():
    """A hole written on the opposite wrap branch must attach to the
    correct piece with a tight bbox (not a world-spanning member)."""
    w = ("POLYGON ((170 0, -170 0, -170 10, 170 10, 170 0), "
         "(-175 2, -172 2, -172 8, -175 8, -175 2))")
    ng = G.normalize_idl(G.parse_wkt(w))
    for b in G.member_bounds(ng):
        assert b[2] - b[0] <= 10.5, b
    got = G.contains(
        ng, np.array([-173.0, 175.0, -171.0]), np.array([5.0, 5.0, 5.0])
    )
    assert list(got) == [False, True, True]


def test_geom_table_native_rejects_multi(spark):
    src = spark.createDataFrame(
        [("m", "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))")],
        "gid string, geom_wkt string",
    )
    # either the explicit kind guard or the ANSI double-cast of the
    # misparsed '(0 0' token fires first — both are loud failures,
    # never silent NULL edges
    with pytest.raises(
        Exception,
        match="geom_table_native|CAST_INVALID_INPUT|invalid input",
    ):
        GD.geom_table_native(src).collect()


def test_empty_polygon_layer(spark, geoms_df):
    from geomesa_spark.operators.spatial_join import pip_join_partitioned
    from geomesa_spark.functions import cells as C
    import pandas as pd

    empty = spark.createDataFrame([], "poly_id string, geom_wkt string")
    assert GD.geom_join_partitioned(geoms_df, empty, bits=5).count() == 0
    pts = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["a"], "lon": [0.0], "lat": [0.0]})
    ).withColumn("cell", C.z2_cell(F.col("lon"), F.col("lat")))
    assert pip_join_partitioned(pts, empty).count() == 0


def test_geom_join_partitioned_custom_columns(spark, geoms_df):
    polys_df = spark.createDataFrame(
        [(pid, wkt) for pid, wkt in QUERY_POLYS], "pid string, wkt string"
    )
    got = sorted(
        (r.gid, r.poly_id)
        for r in GD.geom_join_partitioned(
            geoms_df, polys_df, bits=5, poly_id_col="pid", wkt_col="wkt"
        ).select("gid", "poly_id").collect()
    )
    exp = sorted(
        (r.gid, r.poly_id)
        for r in GD.geom_join_broadcast(geoms_df, QUERY_POLYS, bits=5)
        .select("gid", "poly_id").collect()
    )
    assert got == exp


def test_linestring_query_final_vertex(spark):
    """geom_scan with a LINESTRING query whose only interior-landing
    vertex is its FINAL one (appears only as an edge x1): the
    b-vertex containment must test both endpoints."""
    rows = [("tri", "POLYGON ((0 0, 4 0, 0 4, 0 0))")]
    gdf = GD.geom_table(spark.createDataFrame(rows, "gid string, geom_wkt string"))
    got = [r.gid for r in GD.geom_scan(gdf, "LINESTRING (7 7, 1 1)").collect()]
    assert got == ["tri"]


def test_normalize_idl_multipolygon_member():
    """A crossing member inside a MULTIPOLYGON splits too."""
    w = ("MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0)), "
         "((170 0, -170 0, -170 10, 170 10, 170 0)))")
    ng = G.normalize_idl(G.parse_wkt(w))
    assert ng.kind == "MULTIPOLYGON" and len(ng.poly_starts) == 3
    got = G.contains(
        ng, np.array([5.0, 175.0, -175.0, 100.0]),
        np.array([5.0, 5.0, 5.0, 5.0]),
    )
    assert list(got) == [True, True, True, False]


def test_empty_broadcast_layers(spark, geoms_df):
    from geomesa_spark.operators.spatial_join import (
        pip_join_broadcast, proximity_join,
    )
    from geomesa_spark.functions import cells as C

    assert GD.geom_join_broadcast(geoms_df, [], bits=5).count() == 0
    assert GD.geom_dwithin_join(geoms_df, [], 1.0, bits=5).count() == 0
    pts = spark.createDataFrame(
        [("a", 0.0, 0.0)], "doc_id string, lon double, lat double"
    ).withColumn("cell", C.z2_cell(F.col("lon"), F.col("lat")))
    assert pip_join_broadcast(pts, []).count() == 0
    assert proximity_join(pts, []).count() == 0


def test_tight_line_covers(spark):
    """Long diagonal lines cover O(span) cells via per-edge boxes
    instead of the O(span^2) global bbox; results are identical."""
    diag_pts = ", ".join(
        f"{-60 + 6 * i} {-40 + 4 * i}" for i in range(21)
    )  # 20 short segments along one long diagonal
    rows = [
        ("diag", f"LINESTRING ({diag_pts})"),
        ("short", "LINESTRING (1 1, 3 2)"),
        ("tri", "POLYGON ((0 0, 20 0, 10 15, 0 0))"),
    ]
    gdf = GD.geom_table(spark.createDataFrame(rows, "gid string, geom_wkt string"))
    tight = GD.geom_cover_cells(gdf, 8, tight_lines=True)
    loose = GD.geom_cover_cells(gdf, 8, tight_lines=False)
    n_tight = tight.filter(F.col("gid") == "diag").count()
    n_loose = loose.filter(F.col("gid") == "diag").count()
    assert n_tight < n_loose / 5  # order-of-magnitude tighter
    # join results identical either way
    out_t = sorted(
        (r.gid, r.poly_id)
        for r in GD.geom_join_broadcast(gdf, QUERY_POLYS, bits=8)
        .select("gid", "poly_id").collect()
    )
    qs = {pid: G.parse_wkt(w) for pid, w in QUERY_POLYS}
    exp = sorted(
        (gid, pid)
        for gid, w in rows
        for pid, q in qs.items()
        if G.geom_intersects(G.parse_wkt(w), q)
    )
    assert out_t == exp


def test_continental_polygon_budget_degrade(spark):
    """A continental-scale DATA polygon must not explode O(bbox area)
    cells: its cover degrades to a coarser per-row resolution bounded
    by the cell budget, and both join strategies still find exact
    matches (VERDICT r2 #1; IndexSchema.scala:300-307 non-point rows
    in several index cells)."""
    bits, budget = 10, 256
    rows = [
        # bbox at bits=10 spans ~512 x ~170 grid cells (~87k) unbudgeted
        ("continent", "POLYGON ((-120 -30, 60 -30, 60 30, -120 30, -120 -30))"),
        ("small", "POLYGON ((2 2, 3 2, 2.5 3, 2 2))"),
        ("far", "POLYGON ((150 70, 155 70, 152 75, 150 70))"),
    ]
    gdf = GD.geom_table(
        spark.createDataFrame(rows, "gid string, geom_wkt string")
    ).cache()
    gdf.count()

    covered = GD.geom_cover_cells(gdf, bits, budget=budget)
    counts = {r.gid: r["cnt"] for r in
              covered.groupBy("gid").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert counts["continent"] <= budget, counts
    assert counts["small"] <= budget
    # degraded rows report a coarser resolution, small rows the finest
    rbs = {r.gid: r.rb for r in
           covered.select("gid", F.col("_pbits").alias("rb")).distinct().collect()}
    assert rbs["continent"] < bits
    assert rbs["small"] == bits

    # layer polygon deep in the continent's INTERIOR (no edge nearby)
    # must still match via the coarse cells; disjoint layers must not
    layer = [
        ("inner", "POLYGON ((-30 -5, -20 -5, -25 5, -30 -5))"),
        ("outside", "POLYGON ((120 -60, 130 -60, 125 -50, 120 -60))"),
    ]
    got_b = sorted(
        (r.gid, r.poly_id)
        for r in GD.geom_join_broadcast(gdf, layer, bits=bits, budget=budget)
        .select("gid", "poly_id").collect()
    )
    assert got_b == [("continent", "inner")]
    polys_df = spark.createDataFrame(layer, "poly_id string, geom_wkt string")
    got_p = sorted(
        (r.gid, r.poly_id)
        for r in GD.geom_join_partitioned(gdf, polys_df, bits=bits)
        .select("gid", "poly_id").collect()
    )
    assert got_p == got_b
    # dwithin: 'far' is ~40 deg from the continent; 'small' overlaps it
    near = sorted(
        (r.gid, r.poly_id)
        for r in GD.geom_dwithin_join(gdf, layer[:1], 2.0, bits=bits)
        .select("gid", "poly_id").collect()
    )
    assert near == [("continent", "inner")]
    gdf.unpersist()


def test_budget_degrade_matches_unbudgeted(spark, geoms_df):
    """On a mixed random geometry set the budgeted cover must produce
    the SAME join result as an effectively-unbounded budget."""
    tight = sorted(
        (r.gid, r.poly_id)
        for r in GD.geom_join_broadcast(
            geoms_df, QUERY_POLYS, bits=7, budget=8
        ).select("gid", "poly_id").collect()
    )
    loose = sorted(
        (r.gid, r.poly_id)
        for r in GD.geom_join_broadcast(
            geoms_df, QUERY_POLYS, bits=7, budget=10**9
        ).select("gid", "poly_id").collect()
    )
    assert tight == loose and len(loose) > 0


def test_long_diagonal_line_budget(spark):
    """A single long DIAGONAL edge must not explode O(bbox-area)
    cells (r3 review finding): the budgeted supercover walk keeps the
    per-row cover ~O(budget) and the joins still find polygons that
    touch the line mid-way."""
    bits, budget = 10, 256
    rows = [
        ("diag", "LINESTRING (-170 -80, 170 80)"),
        ("short", "LINESTRING (10 10, 12 11)"),
    ]
    gdf = GD.geom_table(
        spark.createDataFrame(rows, "gid string, geom_wkt string")
    ).cache()
    gdf.count()
    covered = GD.geom_cover_cells(gdf, bits, budget=budget)
    counts = {r.gid: r["cnt"] for r in
              covered.groupBy("gid").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    # unbudgeted per-edge bbox would be ~870k cells for 'diag'
    assert counts["diag"] <= 4 * budget, counts
    # a small polygon crossing the line near the MIDDLE (0,0) and one
    # far from it
    layer = [
        ("mid", "POLYGON ((-2 -3, 3 -3, 3 2, -2 2, -2 -3))"),
        ("off", "POLYGON ((-150 60, -140 60, -145 70, -150 60))"),
    ]
    got = sorted(
        (r.gid, r.poly_id)
        for r in GD.geom_join_broadcast(gdf, layer, bits=bits, budget=budget)
        .select("gid", "poly_id").collect()
    )
    exp = sorted(
        (gid, pid)
        for gid, w in rows
        for pid, pw in layer
        if G.geom_intersects(G.parse_wkt(w), G.parse_wkt(pw))
    )
    assert got == exp and ("diag", "mid") in got
    polys_df = spark.createDataFrame(layer, "poly_id string, geom_wkt string")
    got_p = sorted(
        (r.gid, r.poly_id)
        for r in GD.geom_join_partitioned(gdf, polys_df, bits=bits)
        .select("gid", "poly_id").collect()
    )
    assert got_p == exp
    gdf.unpersist()


def test_dense_track_not_overcoarsened(spark):
    """A dense many-short-edge polyline must NOT degrade resolution
    (the >=1-step-per-edge floor is rb-invariant, so coarsening buys
    nothing); its cover stays selective at the target bits (r3 review
    round 2)."""
    import numpy as np

    bits, budget = 10, 256
    # 300-edge zigzag inside a ~18x0.05-degree ribbon: per-edge span
    # is SUB-CELL (0.06x0.05 deg vs 0.35x0.18-deg cells), so the
    # span-only estimate is small while the edge count is large
    xs = np.linspace(10.0, 28.0, 301)
    ys = 10.0 + 0.05 * (np.arange(301) % 2)
    wkt = "LINESTRING (" + ", ".join(
        f"{x:.6f} {y:.2f}" for x, y in zip(xs, ys)
    ) + ")"
    gdf = GD.geom_table(
        spark.createDataFrame([("track", wkt)], "gid string, geom_wkt string")
    )
    rb = gdf.select(
        GD.row_rbits_col(bits, budget).alias("rb")
    ).collect()[0].rb
    assert rb >= bits - 1, rb  # with the +1-per-edge bug this was bits-3
    cnt = GD.geom_cover_cells(gdf, bits, budget=budget).count()
    # ~O(n_edges) cells (each short edge: 1-2 steps x <=4 cells)
    assert cnt <= 10 * 301, cnt


def test_budget_cover_superset_invariant(spark):
    """Superset invariant of the budgeted cover: every point ON a
    geometry's edges falls in a covered (cell, resolution) — for
    random geometries, budgets, and resolutions. (Candidate
    generation is correct iff this holds; the refine handles the
    rest.)"""
    from geomesa_spark.functions import cells as C

    rng = np.random.default_rng(99)
    rows = _rand_geoms(120, seed=99)
    rows += [
        ("big_poly", "POLYGON ((-150 -50, 100 -50, 100 50, -150 50, -150 -50))"),
        ("long_diag", "LINESTRING (-160 -70, 150 75)"),
    ]
    gdf = GD.geom_table(
        spark.createDataFrame(rows, "gid string, geom_wkt string")
    ).cache()
    gdf.count()
    for bits, budget in [(7, 32), (10, 256)]:
        covered = {}
        cov = GD.geom_cover_cells(gdf, bits, budget=budget)
        for r in cov.select("gid", "_pcell", "_pbits").collect():
            covered.setdefault(r.gid, (set(), r["_pbits"]))[0].add(r["_pcell"])
        for gid, wkt in rows:
            g = G.parse_wkt(wkt)
            cells, rb = covered[gid]
            # sample points along every edge (including endpoints)
            import geomesa_spark.functions.geometry_sql as GS

            for x0, y0, x1, y1 in GS.geom_edges(g):
                t = np.linspace(0.0, 1.0, 17)
                px = x0 + t * (x1 - x0)
                py = y0 + t * (y1 - y0)
                gx = C.lon_to_x_np(px, rb)
                gy = C.lat_to_y_np(py, rb)
                pc = C.z2_encode_np(gx, gy)
                missing = set(int(c) for c in pc) - cells
                assert not missing, (gid, bits, budget, rb, missing)
    gdf.unpersist()


def test_native_parses_multiline_wkt(spark):
    """Join-family review regression: Java-regex '.' does not match
    newlines, so pretty-printed WKT silently yielded null bbox/edges
    and the row vanished from joins."""
    wkt = "POLYGON ((0 0, 4 0,\n4 4, 0 4,\n0 0))"
    df = spark.createDataFrame([("g1", wkt)], "gid string, geom_wkt string")
    native = GD.geom_table_native(df).select("gid", "xmin", "ymax", "edges").first()
    assert native.xmin == 0.0 and native.ymax == 4.0
    assert len(native.edges) == 4
    plain = GD.geom_table(df).select("xmin", "ymax").first()
    assert (native.xmin, native.ymax) == (plain.xmin, plain.ymax)


def test_geom_join_bucketed_empty_layer(spark, geoms_df):
    """Empty polygon layer: empty schemed result, matching every
    other join path (previously raised a confusing resolution
    error)."""
    from geomesa_spark.operators.geom_data import (
        geom_join_bucketed,
        write_geoms_bucketed,
    )
    from geomesa_spark.operators.spatial_join import write_cover_bucketed

    empty_polys = spark.createDataFrame([], "poly_id string, geom_wkt string")
    for t in ("el_geoms", "el_cov"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    write_geoms_bucketed(geoms_df, "el_geoms", bits=5, n_buckets=4,
                         clear_stale_location=True)
    write_cover_bucketed(empty_polys, "el_cov", bits=5, n_buckets=4,
                         clear_stale_location=True)
    out = geom_join_bucketed(spark, "el_geoms", "el_cov", empty_polys, bits=5)
    assert out.count() == 0 and "poly_id" in out.columns
