"""S2-vs-GeoHash cover SELECTIVITY parity (VERDICT r4 item 9).

The reference plans GeoHash covers (RectangleGeoHashIterator.scala);
the engine reimagines the sphere index as S2.  Cell ids differ by
design, so parity is asserted on the two guarantees a cover planner
owes the scan:

1. **No false negatives** — every point inside the query box maps to
   a cover cell (both systems, every box).
2. **Bounded over-selection** — the cover selects nothing outside
   the box dilated by one cell width (its own cell width: GeoHash
   cells are fixed in degrees; S2 level-9 cells are ~0.18 deg in
   face coordinates, widening by 1/cos(lat) in longitude near the
   poles).  Equal selectivity BOUNDS, not equal cells.

Point membership runs on the numpy twins (geohash_encode_np /
s2_cell_np); the GeoHash cover set comes from the distributed
geohash_cover_df, the S2 ranges from the driver-side BFS planner
(budget raised so descent reaches max_level — budget coarsening is a
deliberate selectivity trade tested elsewhere).
"""

import math

import numpy as np
import pytest

from geomesa_spark.functions.geohash import (
    geohash_cover_df,
    geohash_encode_np,
)
from geomesa_spark.functions.s2 import s2_cell_np, s2_cover_ranges

# matched precisions: geohash 4 chars = 10+10 bits -> 0.352 x 0.176
# deg cells; S2 level 9 -> ~90/2^9 = 0.176 deg in face coords
NCHARS = 4
GH_PAD_LON, GH_PAD_LAT = 360.0 / 1024 + 1e-9, 180.0 / 1024 + 1e-9
S2_LEVEL = 9
S2_BASE = 90.0 / (1 << S2_LEVEL)

BOXES = [
    (10.3, 20.2, 24.7, 33.9),      # mid-lat
    (-3.05, -2.95, 3.05, 2.95e0),  # equator straddle (thin)
    (100.0, 62.0, 140.0, 78.0),    # high-lat (S2 lon widening)
    (-179.0, -45.5, -160.25, -30.0),  # west hemisphere
]


def _frame_points(bbox, n=120):
    """Deterministic point grid over a frame 2 cells wider than the
    dilated box on every side — inside, ring, and outside points."""
    xmin, ymin, xmax, ymax = bbox
    mx, my = (xmax - xmin) * 0.5 + 1.5, (ymax - ymin) * 0.5 + 1.5
    lon = np.linspace(max(-179.99, xmin - mx), min(179.99, xmax + mx), n)
    lat = np.linspace(max(-89.99, ymin - my), min(89.99, ymax + my), n)
    gx, gy = np.meshgrid(lon, lat)
    return gx.ravel(), gy.ravel()


def _s2_selected(lon, lat):
    cells = s2_cell_np(lon, lat, S2_LEVEL)
    return cells


def _in_ranges(cells, ranges):
    los = np.array([lo for lo, _ in ranges], dtype=np.int64).astype(np.uint64)
    his = np.array([hi for _, hi in ranges], dtype=np.int64).astype(np.uint64)
    c = cells.astype(np.uint64)[:, None]
    return ((c >= los[None, :]) & (c <= his[None, :])).any(axis=1)


@pytest.mark.parametrize("bbox", BOXES)
def test_cover_selectivity_parity(spark, bbox):
    xmin, ymin, xmax, ymax = bbox
    lon, lat = _frame_points(bbox)
    inside = (
        (lon >= xmin) & (lon <= xmax) & (lat >= ymin) & (lat <= ymax)
    )

    # --- GeoHash cover ---
    gh_cover = {
        r.geohash
        for r in geohash_cover_df(spark, bbox, NCHARS).collect()
    }
    gh_pts = geohash_encode_np(lon, lat, NCHARS)
    gh_sel = np.array([g in gh_cover for g in gh_pts])

    # --- S2 cover (budget high enough to reach max_level) ---
    ranges = s2_cover_ranges(bbox, S2_LEVEL, max_cells=8192)
    s2_sel = _in_ranges(_s2_selected(lon, lat), ranges)

    # guarantee 1: no false negatives, either system
    assert bool(gh_sel[inside].all()), "GeoHash cover missed inside points"
    assert bool(s2_sel[inside].all()), "S2 cover missed inside points"

    # guarantee 2: one-cell dilation bound, each in its own metric
    gh_ok = (
        (lon >= xmin - GH_PAD_LON) & (lon <= xmax + GH_PAD_LON)
        & (lat >= ymin - GH_PAD_LAT) & (lat <= ymax + GH_PAD_LAT)
    )
    assert not bool(gh_sel[~gh_ok].any()), (
        "GeoHash cover selected beyond one cell outside the box"
    )
    # S2 cells are ~S2_BASE deg in face coords; longitude extent
    # widens by 1/cos(lat) toward the poles, and projection
    # distortion at face edges adds up to ~2x — dilate accordingly
    max_abs_lat = min(89.0, max(abs(ymin), abs(ymax)) + 2 * S2_BASE)
    s2_pad_lon = 2 * S2_BASE / math.cos(math.radians(max_abs_lat))
    s2_pad_lat = 2 * S2_BASE
    s2_ok = (
        (lon >= xmin - s2_pad_lon) & (lon <= xmax + s2_pad_lon)
        & (lat >= ymin - s2_pad_lat) & (lat <= ymax + s2_pad_lat)
    )
    assert not bool(s2_sel[~s2_ok].any()), (
        "S2 cover selected beyond the dilated box"
    )

    # both systems honor the SAME selectivity contract: selected set
    # within [box, box + one-cell dilation] — record the measured
    # over-selection so a future cell-size change shows up in review
    gh_over = gh_sel.sum() / max(1, inside.sum())
    s2_over = s2_sel.sum() / max(1, inside.sum())
    assert gh_over >= 1.0 and s2_over >= 1.0
