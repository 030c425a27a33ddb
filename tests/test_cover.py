"""Cover planner tests: zranges containment + polyfill superset.

Modeled on Z3RangeTest / MergeQueueTest (reference zranges over unit
cubes) and the polygon-decomposition budget tests of GeohashUtils.
"""

import numpy as np

from geomesa_spark.functions import cells as C
from geomesa_spark.functions import geometry as G
from geomesa_spark.plans import cover as V


def _ranges_contain(ranges, values):
    values = np.asarray(values)
    ok = np.zeros(len(values), dtype=bool)
    for lo, hi in ranges:
        ok |= (values >= lo) & (values <= hi)
    return ok


def test_merge_ranges():
    assert V.merge_ranges([(5, 9), (0, 4), (12, 15)]) == [(0, 9), (12, 15)]
    assert V.merge_ranges([(0, 10), (2, 3)]) == [(0, 10)]
    assert V.merge_ranges([]) == []


def test_merge_ranges_cap():
    r = [(0, 1), (5, 6), (8, 9), (20, 30), (32, 33)]
    assert V.merge_ranges(r, 3) == [(0, 1), (5, 9), (20, 33)]
    assert V.merge_ranges(r, 1) == [(0, 33)]
    assert V.merge_ranges(r, 5) == r
    rng = np.random.default_rng(7)
    lo = np.sort(rng.choice(1 << 50, 500, replace=False))
    r = [(int(a), int(a) + int(w)) for a, w in zip(lo, rng.integers(0, 1000, 500))]
    capped = V.merge_ranges(r, 40)
    assert len(capped) == 40
    assert all(capped[i][1] < capped[i + 1][0] for i in range(39))
    ends = np.array([v for p in r for v in p])
    assert _ranges_contain(capped, ends).all()
    # what the cap adds is exactly the smallest gaps it closed
    merged = V.merge_ranges(r)
    gaps = sorted(b[0] - a[1] for a, b in zip(merged, merged[1:]))
    added = sum(h - l for l, h in capped) - sum(h - l for l, h in merged)
    assert added == sum(gaps[: len(merged) - 40])


def test_zranges_2d_superset():
    """Every point inside the bbox must fall in some emitted range."""
    rng = np.random.default_rng(42)
    box = (-10.0, 20.0, 15.5, 42.0)
    ranges = V.zranges_2d(*box)
    assert 0 < len(ranges) <= V.DEFAULT_MAX_RANGES + 8
    lon = rng.uniform(box[0], box[2], 5000)
    lat = rng.uniform(box[1], box[3], 5000)
    z = C.z2_encode_np(C.lon_to_x_np(lon), C.lat_to_y_np(lat))
    assert _ranges_contain(ranges, z).all()
    # and points far outside should mostly NOT match (selectivity)
    lon_out = rng.uniform(100, 170, 5000)
    lat_out = rng.uniform(-80, -50, 5000)
    z_out = C.z2_encode_np(C.lon_to_x_np(lon_out), C.lat_to_y_np(lat_out))
    assert _ranges_contain(ranges, z_out).mean() < 0.01


def test_zranges_3d_superset():
    rng = np.random.default_rng(1)
    box = (35.0, 5.0, 45.0, 10.0)
    t_lo, t_hi = 100000, 300000
    ranges = V.zranges_3d(*box, t_lo, t_hi)
    lon = rng.uniform(box[0], box[2], 3000)
    lat = rng.uniform(box[1], box[3], 3000)
    t = rng.integers(t_lo, t_hi, 3000)
    z = C.z3_encode_np(
        C.lon_to_x_np(lon), C.lat_to_y_np(lat), C.time_to_t_np(t)
    )
    assert _ranges_contain(ranges, z).all()
    t_out = rng.integers(400000, 600000, 3000)
    z_out = C.z3_encode_np(
        C.lon_to_x_np(lon), C.lat_to_y_np(lat), C.time_to_t_np(t_out)
    )
    assert _ranges_contain(ranges, z_out).mean() < 0.01


def test_zranges_idl():
    """Antimeridian-crossing bbox splits into two range sets."""
    ranges = V.zranges_2d(170.0, -10.0, -170.0, 10.0)
    rng = np.random.default_rng(3)
    lon = np.concatenate([rng.uniform(170, 180, 500), rng.uniform(-180, -170, 500)])
    lat = rng.uniform(-10, 10, 1000)
    z = C.z2_encode_np(C.lon_to_x_np(lon), C.lat_to_y_np(lat))
    assert _ranges_contain(ranges, z).all()


def test_polyfill_superset():
    """Cover must include the cell of every point inside the polygon."""
    wkt = "POLYGON ((0 0, 20 5, 25 20, 10 28, -5 15, 0 0))"
    geom = G.parse_wkt(wkt)
    cover_cells, bits = V.polyfill(geom, bits=10)
    rng = np.random.default_rng(42)
    lon = rng.uniform(-6, 26, 20000)
    lat = rng.uniform(-1, 29, 20000)
    inside = G.contains(geom, lon, lat)
    z = C.z2_encode_np(C.lon_to_x_np(lon, bits), C.lat_to_y_np(lat, bits))
    cover_set = set(cover_cells.tolist())
    assert all(c in cover_set for c in z[inside].tolist())


def test_polyfill_budget():
    geom = G.parse_wkt(G.box_wkt(-170, -80, 170, 80))
    cells_, bits = V.polyfill(geom, bits=21, budget=256)
    assert bits < 21  # coarsened
    assert len(cells_) <= 4 * 256  # dilation can exceed budget modestly


def test_contains_with_hole():
    wkt = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
    geom = G.parse_wkt(wkt)
    px = np.array([5.0, 2.0, 11.0])
    py = np.array([5.0, 2.0, 5.0])
    assert G.contains(geom, px, py).tolist() == [False, True, False]


def test_multipolygon():
    wkt = "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((10 10, 12 10, 12 12, 10 12, 10 10)))"
    geom = G.parse_wkt(wkt)
    px = np.array([1.0, 11.0, 5.0])
    py = np.array([1.0, 11.0, 5.0])
    assert G.contains(geom, px, py).tolist() == [True, True, False]


def test_dwithin_point():
    geom = G.parse_wkt("POINT (10 10)")
    px = np.array([10.5, 12.0])
    py = np.array([10.0, 10.0])
    assert G.dwithin(geom, px, py, 1.0).tolist() == [True, False]
