"""Trajectory simplification: per-track point reduction.

A tracking corpus at 10^12 points is mostly redundant — a vehicle on
a straight road emits thousands of collinear fixes.  These operators
reduce each track to the points that carry shape information, the
standard preprocessing before tube-select / track rendering / trip
mining (the reference leaves this to GeoTools' client-side
``DouglasPeuckerSimplifier``; here it runs distributed).

This is the engine's ONE legitimate use of per-group Python
(``applyInPandas``): both algorithms are inherently sequential per
track (RDP recurses on the worst offender; radial keeps a running
anchor), so no fixed composition of window functions expresses them
— exactly the "custom operator" escape hatch the UDF policy reserves
for semantics built-ins can't express (COVERAGE §2.10).  The group
key is the track, so per-task memory is one track's points (the same
bound as every track window in ``tracks.py``), Arrow moves the
batches, and the inner loops are numpy-vectorized over whole
segments — per-row Python never runs.

Both algorithms use planar degree geometry (the tolerance is in
coordinate units): simplification is a rendering/storage heuristic,
and the oracle tests pin the exact planar semantics.  Split tracks
at the antimeridian first (geometry.normalize_idl conventions) if
±180 wraps matter for your data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geomesa_spark.operators.hull import _chain

__all__ = ["simplify_tracks", "rdp_keep_np", "radial_keep_np", "track_hulls"]


def rdp_keep_np(lon: np.ndarray, lat: np.ndarray, tol: float) -> np.ndarray:
    """Ramer-Douglas-Peucker keep mask (iterative stack, numpy
    perpendicular distances per segment — no per-point Python in the
    distance math). Endpoints always kept."""
    n = len(lon)
    keep = np.zeros(n, dtype=bool)
    if n == 0:
        return keep
    keep[0] = keep[-1] = True
    if n <= 2:
        return keep
    stack = [(0, n - 1)]
    while stack:
        a, b = stack.pop()
        if b - a < 2:
            continue
        ax, ay, bx, by = lon[a], lat[a], lon[b], lat[b]
        px = lon[a + 1:b]
        py = lat[a + 1:b]
        dx, dy = bx - ax, by - ay
        seg2 = dx * dx + dy * dy
        if seg2 == 0.0:
            # degenerate segment: distance to the (coincident) endpoints
            d2 = (px - ax) ** 2 + (py - ay) ** 2
        else:
            # perpendicular distance to the INFINITE line through a-b
            # (classic RDP; offsets beyond the endpoints still measure
            # against the line)
            cross = (px - ax) * dy - (py - ay) * dx
            d2 = cross * cross / seg2
        i = int(np.argmax(d2))
        if d2[i] > tol * tol:
            m = a + 1 + i
            keep[m] = True
            stack.append((a, m))
            stack.append((m, b))
    return keep


def radial_keep_np(lon: np.ndarray, lat: np.ndarray, tol: float) -> np.ndarray:
    """Radial-distance decimation keep mask: keep a point when it is
    > tol from the LAST KEPT point (running anchor — sequential by
    definition). First and last points always kept."""
    n = len(lon)
    keep = np.zeros(n, dtype=bool)
    if n == 0:
        return keep
    keep[0] = True
    ax, ay = lon[0], lat[0]
    t2 = tol * tol
    for i in range(1, n):
        d2 = (lon[i] - ax) ** 2 + (lat[i] - ay) ** 2
        if d2 > t2:
            keep[i] = True
            ax, ay = lon[i], lat[i]
    if n > 1:
        keep[-1] = True
    return keep


def simplify_tracks(
    df: DataFrame,
    track_col: str,
    ts_col: str,
    tolerance: float,
    lon_col: str = "lon",
    lat_col: str = "lat",
    algorithm: str = "rdp",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Return the subset of rows each track keeps after
    simplification (all input columns preserved — the span-invariant
    contract: rows are FILTERED, never altered).

    `tolerance` is in coordinate degrees. `algorithm`: 'rdp'
    (shape-preserving, the reference's client-side simplifier run
    distributed) or 'radial' (cheaper, density-capping)."""
    if algorithm not in ("rdp", "radial"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    if tolerance < 0:
        raise ValueError("tolerance must be >= 0")
    fn = rdp_keep_np if algorithm == "rdp" else radial_keep_np
    sort_cols = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    schema = df.schema

    def simplify(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        keep = fn(
            pdf[lon_col].to_numpy(dtype=np.float64),
            pdf[lat_col].to_numpy(dtype=np.float64),
            float(tolerance),
        )
        return pdf.loc[keep]

    return df.groupBy(track_col).applyInPandas(simplify, schema=schema)


def track_hulls(
    df: DataFrame,
    track_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Convex-hull footprint per track: the minimal operating-area
    polygon (patrol box inference, AOI summaries, spatial dedup of
    tracks).  Reference parity: GeoTools' client-side ConvexHull per
    feature collection; here it is one applyInPandas on the track
    key (the simplify_tracks escape-hatch contract: per-group
    sequential algorithm) running ``hull._chain``, the monotone chain
    ``convex_hull`` uses, on the (lon, lat) float pairs.

    Deterministic output: the hull starts at the lexicographically
    smallest vertex, runs CCW, strict turns only (collinear boundary
    vertices excluded), duplicates collapsed.  `hull_wkt` is a
    closed POLYGON for >= 3 hull vertices, LINESTRING for a
    collinear track, POINT for a stationary one.  `area` is the
    shoelace area in squared degrees (0 for the degenerate kinds).
    A NULL or NaN coordinate raises.

    Returns (track, n_points, n_hull, hull_wkt, area)."""

    def hull(pdf: pd.DataFrame) -> pd.DataFrame:
        lon = pdf[lon_col].to_numpy(dtype=np.float64)
        lat = pdf[lat_col].to_numpy(dtype=np.float64)
        if np.isnan(lon).any() or np.isnan(lat).any():
            # NaN breaks the chain's sort and set dedup (NaN != NaN),
            # so the hull would depend on row order
            raise ValueError(
                f"track_hulls: NULL or NaN coordinate in track "
                f"{pdf[track_col].iloc[0]!r}"
            )
        verts = _chain(list(zip(lon.tolist(), lat.tolist())))
        hx, hy = np.array(verts, dtype=np.float64).T
        if len(verts) >= 3:
            ring_x = np.append(hx, hx[0])
            ring_y = np.append(hy, hy[0])
            wkt = "POLYGON ((" + ", ".join(
                f"{x!r} {y!r}" for x, y in zip(ring_x, ring_y)
            ) + "))"
            area = 0.5 * float(
                np.sum(hx * np.roll(hy, -1) - np.roll(hx, -1) * hy)
            )
        elif len(verts) == 2:
            wkt = f"LINESTRING ({hx[0]!r} {hy[0]!r}, {hx[1]!r} {hy[1]!r})"
            area = 0.0
        else:
            wkt = f"POINT ({hx[0]!r} {hy[0]!r})"
            area = 0.0
        return pd.DataFrame(
            {
                "track": [pdf[track_col].iloc[0]],
                "n_points": [len(pdf)],
                "n_hull": [len(verts)],
                "hull_wkt": [wkt],
                "area": [area],
            }
        )

    track_type = dict(df.dtypes)[track_col]
    schema = (
        f"track {track_type}, n_points long, n_hull long, "
        f"hull_wkt string, area double"
    )
    return df.groupBy(track_col).applyInPandas(hull, schema=schema)
