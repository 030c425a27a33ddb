"""track_hulls: gift-wrapping oracle parity + degenerate kinds."""

import numpy as np

import pytest

from geomesa_spark.operators.hull import _chain
from geomesa_spark.operators.simplify import track_hulls


def _gift_wrap(pts):
    """Independent jarvis-march hull (set of vertex tuples, strict
    turns -> minimal vertex set)."""
    pts = sorted(set(pts))
    if len(pts) <= 2:
        return set(pts)
    start = pts[0]
    hull = [start]
    cur = start
    prev_dir = None
    while True:
        cand = None
        for p in pts:
            if p == cur:
                continue
            if cand is None:
                cand = p
                continue
            cross = (cand[0] - cur[0]) * (p[1] - cur[1]) - (
                cand[1] - cur[1]
            ) * (p[0] - cur[0])
            if cross < 0 or (
                cross == 0
                and (p[0] - cur[0]) ** 2 + (p[1] - cur[1]) ** 2
                > (cand[0] - cur[0]) ** 2 + (cand[1] - cur[1]) ** 2
            ):
                cand = p
        if cand == start:
            break
        hull.append(cand)
        cur = cand
        if len(hull) > len(pts):  # collinear degenerate guard
            break
    return set(hull)


def _inputs(rng):
    """Integer grids, uniform floats and mixes of +-0.0."""
    for k in range(150):
        n = int(rng.integers(1, 60))
        if k % 3 == 0:
            xs = rng.integers(-5, 6, n).astype(float)
            ys = rng.integers(-5, 6, n).astype(float)
        elif k % 3 == 1:
            xs = rng.uniform(-180, 180, n)
            ys = rng.uniform(-90, 90, n)
        else:
            vals = np.array([0.0, -0.0, 1.0, -1.0])
            xs = vals[rng.integers(0, 4, n)]
            ys = vals[rng.integers(0, 4, n)]
        yield list(zip(xs.tolist(), ys.tolist()))


def test_chain_vs_gift_wrap():
    for pts in _inputs(np.random.default_rng(9)):
        hull = _chain(pts)
        got = set(hull)
        distinct = set(pts)
        if len(got) <= 2:
            # degenerate: endpoints of the collinear extent
            assert len(distinct) <= 2 or _collinear(distinct)
            continue
        assert got == _gift_wrap(pts)
        # CCW + starts at lex-min
        assert hull[0] == min(distinct)
        area2 = sum(
            hull[i][0] * hull[(i + 1) % len(hull)][1]
            - hull[(i + 1) % len(hull)][0] * hull[i][1]
            for i in range(len(hull))
        )
        assert area2 > 0


def _collinear(pts):
    pts = sorted(pts)
    (x0, y0), (x1, y1) = pts[0], pts[-1]
    return all(
        abs((x1 - x0) * (y - y0) - (y1 - y0) * (x - x0)) == 0
        for x, y in pts
    )


def test_track_hulls(spark):
    rows = (
        [("sq", x, y) for x in (0.0, 1.0) for y in (0.0, 1.0)]
        + [("sq", 0.5, 0.5), ("sq", 1.0, 0.5)]  # interior + edge point
        + [("line", 0.0, 0.0), ("line", 1.0, 1.0), ("line", 2.0, 2.0)]
        + [("dot", 5.0, 5.0), ("dot", 5.0, 5.0)]
    )
    df = spark.createDataFrame(rows, "track string, lon double, lat double")
    got = {r.track: r for r in track_hulls(df, "track").collect()}
    sq = got["sq"]
    assert (sq.n_points, sq.n_hull, sq.area) == (6, 4, 1.0)
    assert sq.hull_wkt == (
        "POLYGON ((0.0 0.0, 1.0 0.0, 1.0 1.0, 0.0 1.0, 0.0 0.0))"
    )
    ln = got["line"]
    assert (ln.n_hull, ln.area) == (2, 0.0)
    assert ln.hull_wkt == "LINESTRING (0.0 0.0, 2.0 2.0)"
    dot = got["dot"]
    assert (dot.n_points, dot.n_hull) == (2, 1)
    assert dot.hull_wkt == "POINT (5.0 5.0)"


def test_track_hulls_roundtrip_parses(spark):
    # hull WKT must parse back through the engine's own WKT parser
    from geomesa_spark.operators.geom_data import geom_table_native

    rng = np.random.default_rng(3)
    rows = [
        ("t", float(rng.uniform(-10, 10)), float(rng.uniform(-5, 5)))
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "track string, lon double, lat double")
    hulls = track_hulls(df, "track").withColumnRenamed(
        "hull_wkt", "geom_wkt"
    )
    g = geom_table_native(hulls).collect()[0]
    assert g.kind == "POLYGON" and len(g.edges) == g.n_hull


@pytest.mark.parametrize("bad", [float("nan"), None])
def test_track_hulls_rejects_nan_and_null(spark, bad):
    # the chain's sort and set dedup are undefined on NaN
    df = spark.createDataFrame(
        [("t", 0.0, 0.0), ("t", 1.0, 0.0), ("t", bad, 1.0)],
        "track string, lon double, lat double",
    )
    with pytest.raises(Exception, match="NULL or NaN coordinate"):
        track_hulls(df, "track").collect()
