"""Raster ↔ vector alignment vs numpy oracles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geomesa_spark.functions import cells as C
from geomesa_spark.operators import raster as R


def test_select_resolution_parity():
    # coarsest stored level at least as fine as requested
    assert R.select_resolution(6, [4, 6, 8]) == 6
    assert R.select_resolution(5, [4, 6, 8]) == 6
    # nothing fine enough -> finest available
    assert R.select_resolution(10, [4, 6, 8]) == 8
    # single level -> that level
    assert R.select_resolution(10, [4]) == 4
    with pytest.raises(ValueError):
        R.select_resolution(5, [])


def test_cell_bounds_roundtrip():
    cell = int(C.z2_encode_np(np.asarray([5]), np.asarray([9]))[0])
    x0, y0, x1, y1 = R.cell_bounds(cell, 4)
    assert x1 - x0 == pytest.approx(360.0 / 16)
    assert y1 - y0 == pytest.approx(180.0 / 16)
    assert x0 == pytest.approx(-180 + 5 * 22.5)
    assert y0 == pytest.approx(-90 + 9 * 11.25)


@pytest.fixture(scope="module")
def tiles(spark):
    return R.synth_tiles(spark, res_bits=4).cache()


def test_tile_cover_scan_exact(spark, tiles):
    bbox = (-10.0, -10.0, 40.0, 30.0)
    got = {r.cell for r in R.tile_cover_scan(tiles, bbox, 4).collect()}
    want = set()
    ix0, ix1 = int((bbox[0] + 180) // 22.5), int((bbox[2] + 180) // 22.5)
    iy0, iy1 = int((bbox[1] + 90) // 11.25), int((bbox[3] + 90) // 11.25)
    for ix in range(ix0, ix1 + 1):
        for iy in range(iy0, iy1 + 1):
            want.add(int(C.z2_encode_np(np.asarray([ix]), np.asarray([iy]))[0]))
    assert got == want


def test_raster_vector_join(spark, tiles):
    pts = spark.createDataFrame(
        [(1, 10.0, 20.0), (2, -170.0, -80.0)], "id long, lon double, lat double"
    ).withColumn("cell", C.z2_cell(F.col("lon"), F.col("lat")))
    out = {r.id: r for r in R.raster_vector_join(pts, tiles, 4).collect()}
    for pid, lon, lat in [(1, 10.0, 20.0), (2, -170.0, -80.0)]:
        ix = int((lon + 180) // 22.5)
        iy = int((lat + 90) // 11.25)
        want = int(C.z2_encode_np(np.asarray([ix]), np.asarray([iy]))[0])
        assert out[pid].tile_cell == want
        assert len(out[pid].tile) == 256


def test_mosaic_values(spark, tiles):
    # one full cell: mosaic at native size returns the tile itself
    cell = int(C.z2_encode_np(np.asarray([8]), np.asarray([8]))[0])
    x0, y0, x1, y1 = R.cell_bounds(cell, 4)
    m = R.mosaic(tiles, (x0, y0, x1, y1), 4, 16, 16)
    tile = [r.tile for r in tiles.filter(F.col("cell") == cell).collect()][0]
    want = np.asarray(tile).reshape(16, 16)
    assert m.shape == (16, 16)
    np.testing.assert_allclose(m, want)


def test_mosaic_multi_tile_and_scale(spark, tiles):
    # 2x1 cells, downscaled 2x: nearest-neighbor of the stitched grid
    cells = [
        int(C.z2_encode_np(np.asarray([4]), np.asarray([8]))[0]),
        int(C.z2_encode_np(np.asarray([5]), np.asarray([8]))[0]),
    ]
    x0, y0, _, _ = R.cell_bounds(cells[0], 4)
    _, _, x1, y1 = R.cell_bounds(cells[1], 4)
    m = R.mosaic(tiles, (x0, y0, x1, y1), 4, 16, 8)
    grids = {
        r.cell: np.asarray(r.tile).reshape(16, 16)
        for r in tiles.filter(F.col("cell").isin(cells)).collect()
    }
    native = np.hstack([grids[cells[0]], grids[cells[1]]])  # 16 x 32
    yi = np.minimum((np.arange(8) * 16 // 8), 15)
    xi = np.minimum((np.arange(16) * 32 // 16), 31)
    np.testing.assert_allclose(m, native[np.ix_(yi, xi)])


def test_mosaic_blocks_parity(spark, tiles):
    """Distributed block assembly == driver-path native canvas, with a
    block size that forces tile fragments to split across blocks."""
    cells = [
        int(C.z2_encode_np(np.asarray([4]), np.asarray([8]))[0]),
        int(C.z2_encode_np(np.asarray([5]), np.asarray([8]))[0]),
        int(C.z2_encode_np(np.asarray([4]), np.asarray([9]))[0]),
        int(C.z2_encode_np(np.asarray([5]), np.asarray([9]))[0]),
    ]
    x0, y0, _, _ = R.cell_bounds(cells[0], 4)
    _, _, x1, y1 = R.cell_bounds(cells[3], 4)
    bbox = (x0, y0, x1, y1)

    cov = R.tile_cover_scan(tiles, bbox, 4)
    blocks = R.mosaic_blocks(cov, bbox, 4, 16, 16, block=12)
    plan = blocks._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan  # distributed assembly

    rows = blocks.collect()
    # native canvas is 32x32; block=12 -> 3x3 block grid w/ edge blocks
    assert {(r.bx, r.by) for r in rows} == {
        (bx, by) for bx in range(3) for by in range(3)
    }
    got = np.zeros((32, 32))
    for r in rows:
        grid = np.asarray(r.data).reshape(r.bh, r.bw)
        got[r.by * 12 : r.by * 12 + r.bh, r.bx * 12 : r.bx * 12 + r.bw] = grid

    grids = {
        r.cell: np.asarray(r.tile).reshape(16, 16)
        for r in tiles.filter(F.col("cell").isin(cells)).collect()
    }
    want = np.zeros((32, 32))
    # row 0 = top = max lat -> iy=9 cells on top
    want[:16, :16] = grids[cells[2]]
    want[:16, 16:] = grids[cells[3]]
    want[16:, :16] = grids[cells[0]]
    want[16:, 16:] = grids[cells[1]]
    np.testing.assert_allclose(got, want)


def test_mosaic_forced_distributed_parity(spark, tiles):
    """mosaic() over the driver bound routes through block assembly and
    matches the driver path exactly (VERDICT r3 #5 done criterion)."""
    cells = [
        int(C.z2_encode_np(np.asarray([4]), np.asarray([8]))[0]),
        int(C.z2_encode_np(np.asarray([5]), np.asarray([9]))[0]),
    ]
    x0, y0, _, _ = R.cell_bounds(cells[0], 4)
    _, _, x1, y1 = R.cell_bounds(cells[1], 4)
    bbox = (x0, y0, x1, y1)
    via_driver = R.mosaic(tiles, bbox, 4, 16, 8)
    via_blocks = R.mosaic(tiles, bbox, 4, 16, 8, driver_max_pixels=1)
    np.testing.assert_allclose(via_blocks, via_driver)


def test_zonal_pixel_stats_oracle(spark):
    """Numpy oracle: regenerate the synthetic pixels, test centers
    against each polygon, mirror the fixed-point aggregates."""
    import numpy as np

    from geomesa_spark.functions import cells as C
    from geomesa_spark.functions.geometry import contains, parse_wkt
    from geomesa_spark.operators.raster import synth_tiles, zonal_pixel_stats

    RB, PX, PY, LIM = 4, 8, 8, 256  # full 16x16 grid, 8x8 tiles
    tiles = synth_tiles(spark, RB, px=PX, py=PY, limit_cells=LIM)
    ZONES = [
        ("east", "POLYGON ((10.0 -60.0, 170.0 -60.0, 170.0 70.0, "
                 "10.0 70.0, 10.0 -60.0))"),
        ("tri", "POLYGON ((-150.0 -50.0, -30.0 -70.0, -90.0 40.0, "
                "-150.0 -50.0))"),
    ]
    got = {r.zone: (r.n_px, r.vmin, r.vmax, r.sum_fp, r.mean_fp)
           for r in zonal_pixel_stats(tiles, ZONES, RB).collect()}

    n = 1 << RB
    ids = np.arange(LIM)
    ix = ids % n
    iy = ids // n
    zc = C.z2_encode_np(ix, iy)
    # array multiply wraps mod 2**64 silently (a scalar one warns)
    bases = (
        zc.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    ) >> np.uint64(40)
    exp = {}
    for zone, wkt in ZONES:
        g = parse_wkt(wkt)
        tot_n = 0
        vs = []
        for k in range(LIM):
            base = float(bases[k])
            grid = base + np.add.outer(
                np.arange(PY) * 0.01, np.arange(PX) * 0.0001
            )
            rr, cc = np.meshgrid(np.arange(PY), np.arange(PX),
                                 indexing="ij")
            lon = (ix[k] + (cc + 0.5) / PX) / n * 360.0 - 180.0
            lat = (iy[k] + (rr + 0.5) / PY) / n * 180.0 - 90.0
            m = contains(g, lon.ravel(), lat.ravel())
            tot_n += int(m.sum())
            vs.append(grid.ravel()[m])
        v = np.concatenate(vs)
        fp = np.floor(v * 1_000_000.0).astype(np.int64)
        exp[zone] = (tot_n, float(v.min()), float(v.max()),
                     int(fp.sum()),
                     float(float(fp.sum()) / float(tot_n)))
    assert got == exp
    assert all(v[0] > 500 for v in exp.values())


def test_map_algebra_ops_and_edges(spark):
    """map_algebra vs numpy elementwise oracle for every op, plus
    inner/left semantics and the dimension-mismatch assert."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException  # noqa: F401

    from geomesa_spark.operators.raster import map_algebra, synth_tiles

    a = synth_tiles(spark, 3, px=4, py=4, limit_cells=20)
    b = a.withColumn(
        "tile", F.transform("tile", lambda v: F.lit(2000.0) - v * 2.0)
    ).filter(F.col("cell") % 3 != 0)  # some cells missing in b

    a_rows = {r.cell: np.array(r.tile) for r in a.collect()}
    b_rows = {c: 2000.0 - t * 2.0 for c, t in a_rows.items()
              if c % 3 != 0}

    for op, fn in (
        ("add", lambda x, y: x + y),
        ("sub", lambda x, y: x - y),
        ("mul", lambda x, y: x * y),
        ("div", lambda x, y: x / y),
        ("min", np.minimum),
        ("max", np.maximum),
        ("ndiff", lambda x, y: (x - y) / (x + y)),
    ):
        got = {r.cell: r.tile for r in map_algebra(a, b, op).collect()}
        assert set(got) == set(b_rows), op
        for c, t in got.items():
            exp = fn(a_rows[c], b_rows[c])
            assert np.array_equal(np.array(t), exp), (op, c)

    # left join: a-only cells keep NULL pixels
    left = {r.cell: r.tile for r in
            map_algebra(a, b, "add", how="left").collect()}
    assert set(left) == set(a_rows)
    for c in set(a_rows) - set(b_rows):
        assert all(v is None for v in left[c])

    # dimension mismatch raises at execution
    bad = b.withColumn("px", F.lit(99))
    with pytest.raises(Exception, match="dimensions differ"):
        map_algebra(a, bad, "add").collect()
    with pytest.raises(ValueError):
        map_algebra(a, b, "nope")

    # plan: pure JVM
    plan = map_algebra(a, b, "ndiff")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_focal_stats_vs_numpy(spark):
    """focal_stats vs a numpy sliding-window oracle, including
    cross-tile windows and world-edge shrinkage."""
    import numpy as np
    import pytest
    from geomesa_spark.operators.raster import focal_stats, synth_tiles

    BITS, PX, PY, FP, RING = 2, 4, 4, 1_000_000, 1
    n = 1 << BITS
    tiles = synth_tiles(spark, BITS, px=PX, py=PY)  # full 4x4 level
    got = {(r.gx, r.gy): r for r in focal_stats(
        tiles, BITS, ring=RING, fp_scale=FP).collect()}

    # numpy: assemble the full world raster in fp ints
    from geomesa_spark.functions import cells as C

    world = np.zeros((n * PY, n * PX), dtype=np.int64)
    for r in tiles.collect():
        ix, iy = C.z2_decode_np(np.asarray([r.cell], dtype=np.int64))
        t = np.floor(np.array(r.tile) * float(FP)).astype(np.int64)
        world[int(iy[0]) * PY:(int(iy[0]) + 1) * PY,
              int(ix[0]) * PX:(int(ix[0]) + 1) * PX] = \
            t.reshape(PY, PX)
    H, W = world.shape
    assert len(got) == H * W
    for gy in range(H):
        for gx in range(W):
            y0, y1 = max(0, gy - RING), min(H, gy + RING + 1)
            x0, x1 = max(0, gx - RING), min(W, gx + RING + 1)
            win = world[y0:y1, x0:x1]
            r = got[(gx, gy)]
            assert r.v_fp == world[gy, gx]
            assert r.n_win == win.size
            assert r.sum_fp == int(win.sum())
            assert r.min_fp == int(win.min())
            assert r.max_fp == int(win.max())
            assert r.mean_fp == pytest.approx(
                win.sum() / win.size, rel=1e-12)
    # edge pixels have shrunken windows; interior are full 3x3
    assert got[(0, 0)].n_win == 4
    assert got[(1, 1)].n_win == 9
    with pytest.raises(ValueError):
        focal_stats(tiles, BITS, ring=0)
    # no Python in the focal plan beyond the synthetic generator
    plan = focal_stats(tiles, BITS)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_downsample_vs_numpy(spark):
    """downsample vs a numpy block-reduce oracle: mean/min/max
    aggs, partial coverage leaving NULL holes, factor-4 level drop,
    argument validation, no Python in the plan."""
    from geomesa_spark.operators.raster import downsample, synth_tiles

    BITS, PX, PY, FP = 2, 4, 4, 1_000_000
    n = 1 << BITS
    tiles = synth_tiles(spark, BITS, px=PX, py=PY).cache()

    world = np.full((n * PY, n * PX), np.nan)
    for r in tiles.collect():
        ix, iy = C.z2_decode_np(np.asarray([r.cell], dtype=np.int64))
        world[int(iy[0]) * PY:(int(iy[0]) + 1) * PY,
              int(ix[0]) * PX:(int(ix[0]) + 1) * PX] = \
            np.array(r.tile).reshape(PY, PX)
    wfp = np.floor(world * FP).astype(np.int64)

    for agg in ("mean", "min", "max"):
        out = downsample(tiles, BITS, factor=2, agg=agg).collect()
        # parent level: 2x2 cells, same tile dims
        assert {r.res_bits for r in out} == {BITS - 1}
        assert len(out) == (n // 2) ** 2
        for r in out:
            assert (r.px, r.py) == (PX, PY)
            ix, iy = C.z2_decode_np(np.asarray([r.cell], dtype=np.int64))
            t = np.array(r.tile, dtype=float).reshape(PY, PX)
            for yy in range(PY):
                for xx in range(PX):
                    cgx, cgy = int(ix[0]) * PX + xx, int(iy[0]) * PY + yy
                    blk = wfp[cgy * 2:cgy * 2 + 2, cgx * 2:cgx * 2 + 2]
                    want = {
                        "mean": blk.sum() / (4 * FP),
                        "min": blk.min() / FP,
                        "max": blk.max() / FP,
                    }[agg]
                    assert t[yy, xx] == want, (agg, r.cell, xx, yy)

    # factor 4 drops two levels in one pass (block mean of 16)
    out4 = downsample(tiles, BITS, factor=4).collect()
    assert {r.res_bits for r in out4} == {BITS - 2}
    assert len(out4) == 1
    t4 = np.array(out4[0].tile, dtype=float).reshape(PY, PX)
    blk = wfp[0:4, 0:4]
    assert t4[0, 0] == blk.sum() / (16 * FP)

    # partial coverage: one child tile only -> the parent pixel
    # positions with no source stay NULL, covered blocks aggregate
    # what exists
    one = tiles.filter(F.col("cell") == 0)
    outp = downsample(one, BITS, factor=2).collect()
    assert len(outp) == 1
    tp = outp[0].tile
    covered = [v for v in tp if v is not None]
    assert len(covered) == (PX // 2) * (PY // 2)
    assert tp[0] == wfp[0:2, 0:2].sum() / (4 * FP)

    with pytest.raises(ValueError):
        downsample(tiles, BITS, factor=3)
    with pytest.raises(ValueError):
        downsample(tiles, BITS, factor=2, agg="median")
    with pytest.raises(ValueError):
        downsample(tiles, 0, factor=2)

    plan = downsample(tiles, BITS)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_terrain_vs_numpy(spark):
    """terrain vs a numpy Horn-kernel oracle: exact integer
    gradient sums, slope/aspect/hillshade full-precision parity,
    interior-only emission, flat-cell NULL aspect."""
    import math

    from geomesa_spark.operators.raster import terrain, synth_tiles

    BITS, PX, PY, FP = 2, 4, 4, 1_000_000
    XCS, YCS, AZ, ALT = 30.0, 25.0, 315.0, 45.0
    n = 1 << BITS
    tiles = synth_tiles(spark, BITS, px=PX, py=PY)
    got = {(r.gx, r.gy): r for r in terrain(
        tiles, BITS, x_cellsize=XCS, y_cellsize=YCS,
        sun_azimuth_deg=AZ, sun_altitude_deg=ALT).collect()}

    world = np.zeros((n * PY, n * PX))
    for r in tiles.collect():
        ix, iy = C.z2_decode_np(np.asarray([r.cell], dtype=np.int64))
        world[int(iy[0]) * PY:(int(iy[0]) + 1) * PY,
              int(ix[0]) * PX:(int(ix[0]) + 1) * PX] = \
            np.array(r.tile).reshape(PY, PX)
    wfp = np.floor(world * FP).astype(np.int64)
    H, W = wfp.shape
    # interior pixels only
    assert len(got) == (H - 2) * (W - 2)
    zen = math.radians(90.0 - ALT)
    azr = math.radians(AZ)
    for gy in range(1, H - 1):
        for gx in range(1, W - 1):
            w = wfp[gy - 1:gy + 2, gx - 1:gx + 2]
            # row index grows with gy (north); columns with gx (east)
            a, b, c = w[2, 0], w[2, 1], w[2, 2]   # north row
            d, _, f_ = w[1, 0], w[1, 1], w[1, 2]
            g, h, i = w[0, 0], w[0, 1], w[0, 2]   # south row
            gxs = (c + 2 * f_ + i) - (a + 2 * d + g)
            gys = (a + 2 * b + c) - (g + 2 * h + i)
            r = got[(gx, gy)]
            assert r.gx_fp == gxs and r.gy_fp == gys
            dzdx = gxs / (8.0 * XCS * FP)
            dzdy = gys / (8.0 * YCS * FP)
            assert r.dzdx == pytest.approx(dzdx, abs=1e-18)
            assert r.dzdy == pytest.approx(dzdy, abs=1e-18)
            slope = math.atan(math.hypot(dzdx, dzdy))
            assert r.slope_deg == pytest.approx(math.degrees(slope), abs=1e-9)
            if gxs == 0 and gys == 0:
                assert r.aspect_deg is None
            else:
                aspect = math.degrees(
                    math.atan2(-dzdx, -dzdy)) % 360.0
                assert r.aspect_deg == pytest.approx(aspect, abs=1e-9)
                hs = 255.0 * max(0.0, (
                    math.cos(zen) * math.cos(slope)
                    + math.sin(zen) * math.sin(slope)
                    * math.cos(azr - math.radians(aspect))))
                assert r.hillshade == int(round(hs))

    with pytest.raises(ValueError):
        terrain(tiles, BITS, x_cellsize=0.0)
    plan = terrain(tiles, BITS)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_contour_vs_reference(spark):
    """contour vs an independent per-cell python marching-squares
    sweep, plus the level-set invariant: every emitted vertex
    interpolates the field to EXACTLY the level (in the same
    fixed-point arithmetic)."""
    from geomesa_spark.operators.raster import contour, synth_tiles

    BITS, PX, PY, FP = 2, 4, 4, 1_000_000
    n = 1 << BITS
    tiles = synth_tiles(spark, BITS, px=PX, py=PY).cache()
    # synthetic bases differ per tile by ~1e5, so tile seams carry
    # crossings for a level between two base plateaus
    vals = sorted(
        v for r in tiles.collect() for v in r.tile
    )
    level = vals[len(vals) // 2] + 0.004  # mid-corpus, off-grid
    got = contour(tiles, BITS, level, fp_scale=FP).collect()

    world = np.zeros((n * PY, n * PX))
    for r in tiles.collect():
        ix, iy = C.z2_decode_np(np.asarray([r.cell], dtype=np.int64))
        world[int(iy[0]) * PY:(int(iy[0]) + 1) * PY,
              int(ix[0]) * PX:(int(ix[0]) + 1) * PX] = \
            np.array(r.tile).reshape(PY, PX)
    wfp = np.floor(world * FP).astype(np.int64)
    lfp = int(np.floor(level * FP))

    SEGS = {1: [("L", "B")], 2: [("B", "R")], 3: [("L", "R")],
            4: [("T", "R")], 5: [("L", "T"), ("B", "R")],
            6: [("B", "T")], 7: [("L", "T")], 8: [("L", "T")],
            9: [("B", "T")], 10: [("L", "B"), ("T", "R")],
            11: [("T", "R")], 12: [("L", "R")], 13: [("B", "R")],
            14: [("L", "B")]}

    def pt(edge, bl, br, tr, tl, cx, cy):
        if edge == "B":
            return (cx + (lfp - bl) / (br - bl), cy + 0.0)
        if edge == "R":
            return (cx + 1.0, cy + (lfp - br) / (tr - br))
        if edge == "T":
            return (cx + (lfp - tl) / (tr - tl), cy + 1.0)
        return (cx + 0.0, cy + (lfp - bl) / (tl - bl))

    exp = set()
    H, W = wfp.shape
    for cy in range(H - 1):
        for cx in range(W - 1):
            bl, br = int(wfp[cy, cx]), int(wfp[cy, cx + 1])
            tl, tr = int(wfp[cy + 1, cx]), int(wfp[cy + 1, cx + 1])
            case = ((bl >= lfp) + 2 * (br >= lfp)
                    + 4 * (tr >= lfp) + 8 * (tl >= lfp))
            for sidx, (e0, e1) in enumerate(SEGS.get(case, [])):
                p0 = pt(e0, bl, br, tr, tl, cx, cy)
                p1 = pt(e1, bl, br, tr, tl, cx, cy)
                exp.add((cx, cy, case, sidx, *p0, *p1))
    assert exp  # the level genuinely crosses
    got_set = {
        (r.cx, r.cy, r.mcase, r.sidx, r.x0, r.y0, r.x1, r.y1)
        for r in got
    }
    assert got_set == exp

    # level-set invariant: interpolating the fixed-point field along
    # the crossing edge at each vertex recovers the level exactly
    for r in got:
        for (x, y) in ((r.x0, r.y0), (r.x1, r.y1)):
            # reconstruct from whichever axis is fractional; a
            # corner-exact vertex (both integral) means the corner
            # value IS >= level by the case test, nothing to check
            if x != float(int(x)):
                a, b = wfp[int(y), int(np.floor(x))], wfp[int(y), int(np.floor(x)) + 1]
                t = x - np.floor(x)
                assert a + t * (b - a) == pytest.approx(lfp, rel=1e-12)
            elif y != float(int(y)):
                a, b = wfp[int(np.floor(y)), int(x)], wfp[int(np.floor(y)) + 1, int(x)]
                t = y - np.floor(y)
                assert a + t * (b - a) == pytest.approx(lfp, rel=1e-12)

    plan = contour(tiles, BITS, level)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_null_pixels_behave_like_missing_tiles(spark):
    """Regression (review finding): NULL tile elements — the holes
    downsample leaves under partial coverage — must behave exactly
    like missing tiles in every lattice operator, not silently
    enter count(*) denominators/guards."""
    from geomesa_spark.operators.raster import (
        contour, downsample, focal_stats, synth_tiles, terrain,
    )

    BITS, PX, PY, FP = 2, 4, 4, 1_000_000
    n = 1 << BITS
    base = synth_tiles(spark, BITS, px=PX, py=PY)
    # a constant layer is easiest to reason about: all pixels 1.0
    ones = base.withColumn(
        "tile", F.transform("tile", lambda _: F.lit(1.0))
    )
    # drop one whole tile -> level-1 overview has NULL holes
    partial = ones.filter(F.col("cell") != 0)
    lvl1 = downsample(partial, BITS, factor=2)
    holes = sum(
        1 for r in lvl1.collect() for v in r.tile if v is None
    )
    assert holes == (PX // 2) * (PY // 2)  # the missing tile's block

    # chained downsample: the mean over the holey parent must stay
    # 1.0 (pre-fix it deflated: NULLs counted in n_in but not sum)
    lvl0 = downsample(lvl1, BITS - 1, factor=2)
    vals = [v for r in lvl0.collect() for v in r.tile if v is not None]
    assert vals and all(v == 1.0 for v in vals)

    # terrain: gradients at hole borders must NOT be fabricated —
    # a window touching the hole is incomplete and emits nothing
    ter = terrain(lvl1, BITS - 1).collect()
    # constant field: every emitted gradient is exactly zero
    assert ter and all(r.gx_fp == 0 and r.gy_fp == 0 for r in ter)
    got_px = {(r.gx, r.gy) for r in ter}
    # reconstruct which global pixels are holes
    from geomesa_spark.functions import cells as C2
    present = np.zeros(((n // 2) * PY, (n // 2) * PX), dtype=bool)
    for r in lvl1.collect():
        ix, iy = C2.z2_decode_np(np.asarray([r.cell], dtype=np.int64))
        t = np.array([v is not None for v in r.tile]).reshape(PY, PX)
        present[int(iy[0]) * PY:(int(iy[0]) + 1) * PY,
                int(ix[0]) * PX:(int(ix[0]) + 1) * PX] = t
    H, W = present.shape
    exp_px = {
        (gx, gy)
        for gy in range(1, H - 1) for gx in range(1, W - 1)
        if present[gy - 1:gy + 2, gx - 1:gx + 2].all()
    }
    assert got_px == exp_px

    # contour: a hole corner means the marching cell is incomplete
    # and emits NOTHING (pre-fix: NULL >= level read as 'below' and
    # produced segments with NULL vertices)
    segs = contour(lvl1, BITS - 1, 0.5).collect()
    assert segs == []  # constant 1.0 field: no crossing anywhere

    # focal: n_win counts only real pixels next to a hole
    foc = {(r.gx, r.gy): r for r in focal_stats(
        lvl1, BITS - 1, ring=1).collect()}
    assert set(foc) == {  # occupied pixels only
        (gx, gy) for gy in range(H) for gx in range(W) if present[gy, gx]
    }
    for (gx, gy), r in foc.items():
        y0, y1 = max(0, gy - 1), min(H, gy + 2)
        x0, x1 = max(0, gx - 1), min(W, gx + 2)
        assert r.n_win == int(present[y0:y1, x0:x1].sum())


def test_flow_direction_and_accumulation(spark):
    """D8 hydrology vs a python oracle: steepest-descent codes with
    the ESRI tie precedence, pits/flats as 0, and accumulation as
    exact upstream counts (checked against transitive closure)."""
    import math

    from geomesa_spark.operators.raster import (
        TILE_SCHEMA, flow_accumulation, flow_direction,
    )

    BITS, PX, PY, FP = 1, 8, 8, 1_000_000
    n = 1 << BITS
    rng = np.random.default_rng(31)
    world = rng.normal(500.0, 60.0, (n * PY, n * PX))
    # a deterministic valley so real channels exist
    for gy in range(n * PY):
        for gx in range(n * PX):
            world[gy, gx] += 3.0 * abs(gx - 7.3) + 0.5 * gy
    rows = []
    for cix in range(n):
        for ciy in range(n):
            cell = int(C.z2_encode_np(
                np.asarray([cix]), np.asarray([ciy]))[0])
            t = world[ciy*PY:(ciy+1)*PY, cix*PX:(cix+1)*PX]
            rows.append((BITS, cell, PX, PY,
                         [float(v) for v in t.ravel()]))
    tiles = spark.createDataFrame(rows, TILE_SCHEMA)
    wfp = np.floor(world * FP).astype(np.int64)

    D8 = [(1, 0, 1, 1.0), (1, -1, 2, math.sqrt(2)), (0, -1, 4, 1.0),
          (-1, -1, 8, math.sqrt(2)), (-1, 0, 16, 1.0),
          (-1, 1, 32, math.sqrt(2)), (0, 1, 64, 1.0),
          (1, 1, 128, math.sqrt(2))]
    H, W = wfp.shape
    exp_dir = {}
    for gy in range(1, H - 1):
        for gx in range(1, W - 1):
            best = None
            for i, (dx, dy, code, dist) in enumerate(D8):
                rate = float(wfp[gy, gx] - wfp[gy + dy, gx + dx]) / dist
                key = (-rate, i)
                if best is None or key < best[0]:
                    best = (key, code, wfp[gy, gx] - wfp[gy + dy, gx + dx])
            rate_best = -best[0][0]
            exp_dir[(gx, gy)] = (
                (0, 0) if rate_best <= 0 else (best[1], best[2]))
    dirs = flow_direction(tiles, BITS, fp_scale=FP)
    got = {(r.gx, r.gy): (r.d8, r.drop_fp) for r in dirs.collect()}
    assert got == exp_dir

    # accumulation: exact ancestor counts via python propagation
    down = {}
    for (gx, gy), (code, _) in exp_dir.items():
        if code:
            dx, dy = next((dx, dy) for dx, dy, c, _ in D8 if c == code)
            down[(gx, gy)] = (gx + dx, gy + dy)
    # fixed point of acc(t) = 1 + sum of direct-upstream acc
    acc_exp = {p: 1 for p in exp_dir}
    guard = 0
    while True:
        guard += 1
        assert guard < 200
        nxt = {p: 1 for p in exp_dir}
        for p, q in down.items():
            if q in nxt:
                nxt[q] += acc_exp[p]
        if nxt == acc_exp:
            break
        acc_exp = nxt
    got_acc = {(r.gx, r.gy): r.acc
               for r in flow_accumulation(dirs).collect()}
    assert got_acc == acc_exp
    # the linear method computes the identical fixed point
    got_lin = {(r.gx, r.gy): r.acc
               for r in flow_accumulation(dirs, method="linear").collect()}
    assert got_lin == acc_exp
    with pytest.raises(ValueError):
        flow_accumulation(dirs, method="bogus")
    # sanity: the engineered valley accumulates the most
    hot = max(got_acc.items(), key=lambda kv: kv[1])
    assert hot[1] > 10

    # watershed: every cell labeled by its terminal outlet
    from geomesa_spark.operators.raster import watershed

    def term(p):
        seen = set()
        while p in down:
            assert p not in seen
            seen.add(p)
            p = down[p]
        return p

    exp_ws = {p: term(p) for p in exp_dir}
    got_ws = {(r.gx, r.gy): (r.out_gx, r.out_gy)
              for r in watershed(dirs).collect()}
    assert got_ws == exp_ws
    # basins exist: more than one outlet, fewer outlets than cells
    outs = set(exp_ws.values())
    assert 1 < len(outs) < len(exp_ws)


def test_hydrology_cycle_detection(spark):
    """Corrupt direction fields (cycles) must raise, not silently
    converge: even-length cycles previously reached the
    self-pointing fixed point in watershed and blew up reach in
    accumulation; odd cycles burn the round bound."""
    from geomesa_spark.operators.raster import (
        flow_accumulation, watershed,
    )

    def dirs_df(rows):
        return spark.createDataFrame(
            rows, "gx long, gy long, v_fp long, d8 int, drop_fp long"
        )

    # 2-cycle: A(0,0) -> E -> B(1,0) -> W -> A
    two = dirs_df([(0, 0, 0, 1, 1), (1, 0, 0, 16, 1)])
    with pytest.raises(Exception, match="cycle"):
        watershed(two).collect()
    with pytest.raises(Exception, match="cycle"):
        flow_accumulation(two).collect()
    # 3-cycle: (0,0) -E-> (1,0) -N-> (1,1) -SW-> (0,0)
    three = dirs_df([
        (0, 0, 0, 1, 1), (1, 0, 0, 64, 1), (1, 1, 0, 8, 1)])
    with pytest.raises(Exception, match="cycle|converge"):
        watershed(three).collect()
    with pytest.raises(Exception, match="cycle|converge"):
        flow_accumulation(three).collect()
    # linear method: a 70-hop straight channel converges fine with
    # the per-method default (the old shared 64 default raised)
    chain = dirs_df([(gx, 0, 0, 1, 1) for gx in range(70)]
                    + [(70, 0, 0, 0, 0)])
    acc = {(r.gx, r.gy): r.acc
           for r in flow_accumulation(chain, method="linear").collect()}
    assert acc[(70, 0)] == 71 and acc[(0, 0)] == 1


def test_region_group(spark):
    """Connected-component region labeling vs an independent python
    flood fill: categorical lattice with regions crossing tile
    boundaries, 4 vs 8 connectivity (diagonal-only blobs split/merge),
    quant banding, isolated pixels self-labeled, NULL holes split."""
    from geomesa_spark.operators.raster import TILE_SCHEMA, region_group

    BITS, PX, PY, FP = 1, 4, 4, 1_000_000
    n = 1 << BITS
    rng = np.random.default_rng(7)
    # small categorical world: 3 classes, plus a NULL hole
    world = rng.integers(0, 3, (n * PY, n * PX)).astype(float)
    world[3, 3] = np.nan  # hole: must split regions, never join
    rows = []
    for cix in range(n):
        for ciy in range(n):
            cell = int(C.z2_encode_np(
                np.asarray([cix]), np.asarray([ciy]))[0])
            t = world[ciy*PY:(ciy+1)*PY, cix*PX:(cix+1)*PX]
            rows.append((BITS, cell, PX, PY,
                         [None if np.isnan(v) else float(v)
                          for v in t.ravel()]))
    tiles = spark.createDataFrame(rows, TILE_SCHEMA)

    def flood(conn):
        H, W = world.shape
        lab = {}
        for sy in range(H):
            for sx in range(W):
                if np.isnan(world[sy, sx]) or (sx, sy) in lab:
                    continue
                stack, comp = [(sx, sy)], []
                seen = {(sx, sy)}
                while stack:
                    x, y = stack.pop()
                    comp.append((x, y))
                    offs = [(1,0),(-1,0),(0,1),(0,-1)]
                    if conn == 8:
                        offs += [(1,1),(1,-1),(-1,1),(-1,-1)]
                    for dx, dy in offs:
                        nx, ny = x+dx, y+dy
                        if (0 <= nx < W and 0 <= ny < H
                                and (nx, ny) not in seen
                                and not np.isnan(world[ny, nx])
                                and world[ny, nx] == world[y, x]):
                            seen.add((nx, ny))
                            stack.append((nx, ny))
                rid = min((x << 32) + y for x, y in comp)
                for p in comp:
                    lab[p] = rid
        return lab

    for conn in (4, 8):
        got = {(r.gx, r.gy): r.region
               for r in region_group(
                   tiles, BITS, fp_scale=FP, connectivity=conn
               ).collect()}
        want = flood(conn)
        assert got == want, conn
        # hole emitted nowhere
        assert (3, 3) not in got

    # quant banding: values {0,1} -> one band, {2} -> another
    got_q = {(r.gx, r.gy): (r.vq, r.region)
             for r in region_group(
                 tiles, BITS, fp_scale=FP, quant=2 * FP
             ).collect()}
    w2 = np.where(np.isnan(world), np.nan,
                  np.floor(world * FP) // (2 * FP))
    world_save = world.copy()
    try:
        world[:] = w2
        want_q = flood(4)
    finally:
        world[:] = world_save
    assert {k: v[1] for k, v in got_q.items()} == want_q
    # decode columns are consistent
    out = region_group(tiles, BITS, fp_scale=FP).collect()
    for r in out:
        assert (r.rx << 32) + r.ry == r.region

    with pytest.raises(ValueError):
        region_group(tiles, BITS, connectivity=6)
