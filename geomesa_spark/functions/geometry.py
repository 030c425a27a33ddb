"""Vectorized geometry kernels (pure numpy — no GEOS dependency).

Implements the subset of JTS predicates the reference evaluates
post-index (intersects/contains/dwithin — evaluated in
KryoLazyFilterTransformIterator, see SURVEY.md §2.2) as numpy
batch kernels suitable for pandas/Arrow UDFs. No per-row Python.

Also a minimal WKT parser (POINT / LINESTRING / POLYGON /
MULTIPOLYGON) for fixture and layer ingestion — the reference's
geometry transport is WKT too (GeoMesaSparkSql.scala:293-301
converts Geometry -> WKT string for Spark rows).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------------------------
# WKT
# ---------------------------------------------------------------------------


@dataclass
class Geometry:
    """Parsed geometry: kind + list of rings/paths as (N,2) float arrays.

    - POINT: one array of shape (1, 2)
    - LINESTRING: one array (N, 2)
    - POLYGON: rings[0] = shell, rings[1:] = holes
    - MULTIPOLYGON: rings flattened; `poly_starts` marks which ring
      index begins each polygon (ring 0 of each member is its shell)
    """

    kind: str
    rings: list = field(default_factory=list)
    poly_starts: list = field(default_factory=list)

    @property
    def bounds(self) -> tuple[float, float, float, float]:
        pts = np.vstack(self.rings)
        return (
            float(pts[:, 0].min()),
            float(pts[:, 1].min()),
            float(pts[:, 0].max()),
            float(pts[:, 1].max()),
        )


_NUM = r"[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?"


def _parse_coords(body: str) -> np.ndarray:
    # one C-level tokenize + parse (the ingest hot path: geom_table
    # runs this per row inside Arrow batches)
    vals = np.array(body.replace(",", " ").split(), dtype=np.float64)
    return vals.reshape(-1, 2)


def parse_wkt(wkt: str) -> Geometry:
    s = wkt.strip()
    up = s.upper()
    if up.startswith("POINT"):
        body = s[s.index("(") + 1 : s.rindex(")")]
        return Geometry("POINT", [_parse_coords(body)])
    if up.startswith("LINESTRING"):
        body = s[s.index("(") + 1 : s.rindex(")")]
        return Geometry("LINESTRING", [_parse_coords(body)])
    if up.startswith("MULTIPOINT"):
        body = s[s.index("(") + 1 : s.rindex(")")]
        pts = re.findall(r"\(([^()]*)\)", body)
        if not pts:  # bare form: MULTIPOINT (1 2, 3 4)
            pts = [p.strip() for p in body.split(",")]
        # one single-point ring per member (distance/rasterize treat
        # short rings as points, never as connecting segments)
        return Geometry("MULTIPOINT", [_parse_coords(p) for p in pts])
    if up.startswith("MULTILINESTRING"):
        body = s[s.index("(") + 1 : s.rindex(")")]
        rings = [_parse_coords(r) for r in re.findall(r"\(([^()]*)\)", body)]
        return Geometry("MULTILINESTRING", rings)
    if up.startswith("MULTIPOLYGON"):
        body = s[s.index("(") + 1 : s.rindex(")")]
        rings: list[np.ndarray] = []
        starts: list[int] = []
        for poly in re.findall(r"\(\s*(\([^()]*\)(?:\s*,\s*\([^()]*\))*)\s*\)", body):
            starts.append(len(rings))
            for ring in re.findall(r"\(([^()]*)\)", poly):
                rings.append(_parse_coords(ring))
        return Geometry("MULTIPOLYGON", rings, starts)
    if up.startswith("POLYGON"):
        body = s[s.index("(") + 1 : s.rindex(")")]
        rings = [_parse_coords(r) for r in re.findall(r"\(([^()]*)\)", body)]
        return Geometry("POLYGON", rings, [0])
    raise ValueError(f"unsupported WKT: {wkt[:60]}")


def box_wkt(xmin: float, ymin: float, xmax: float, ymax: float) -> str:
    return (
        f"POLYGON (({xmin} {ymin}, {xmax} {ymin}, {xmax} {ymax}, "
        f"{xmin} {ymax}, {xmin} {ymin}))"
    )


# ---------------------------------------------------------------------------
# vectorized predicates
# ---------------------------------------------------------------------------


def _ring_contains(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Ray-casting point-in-ring, vectorized over points.

    Crossing-number with the standard half-open edge rule; boundary
    points may land either way (same as JTS `contains` being exact
    on boundary only up to tolerance — fixtures avoid boundary pts).
    """
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    px = px[:, None]
    py = py[:, None]
    cond = (y0 > py) != (y1 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
    crossing = cond & (px < xint)
    return (crossing.sum(axis=1) % 2).astype(bool)


def contains(geom: Geometry, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """point-in-polygon for POLYGON / MULTIPOLYGON (holes honored)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    if geom.kind == "POLYGON":
        out = _ring_contains(px, py, geom.rings[0])
        for hole in geom.rings[1:]:
            out &= ~_ring_contains(px, py, hole)
        return out
    if geom.kind == "MULTIPOLYGON":
        out = np.zeros(len(px), dtype=bool)
        starts = list(geom.poly_starts) + [len(geom.rings)]
        for i in range(len(geom.poly_starts)):
            shell, holes = geom.rings[starts[i]], geom.rings[starts[i] + 1 : starts[i + 1]]
            inside = _ring_contains(px, py, shell)
            for hole in holes:
                inside &= ~_ring_contains(px, py, hole)
            out |= inside
        return out
    raise ValueError(f"contains: unsupported {geom.kind}")


def seg_dist2(
    px: np.ndarray, py: np.ndarray, x0, y0, x1, y1
) -> np.ndarray:
    """Squared distance from points to segments: (P,) x (S,) -> (P,S)."""
    dx, dy = x1 - x0, y1 - y0
    seg_len2 = dx * dx + dy * dy
    seg_len2 = np.where(seg_len2 == 0.0, 1.0, seg_len2)
    t = ((px[:, None] - x0) * dx + (py[:, None] - y0) * dy) / seg_len2
    t = np.clip(t, 0.0, 1.0)
    cx = x0 + t * dx
    cy = y0 + t * dy
    ddx = px[:, None] - cx
    ddy = py[:, None] - cy
    return ddx * ddx + ddy * ddy


def dwithin(
    geom: Geometry, px: np.ndarray, py: np.ndarray, dist_deg: float
) -> np.ndarray:
    """True where point is within `dist_deg` (degrees) of geometry.

    The reference rewrites dwithin-meters to degrees before
    evaluation (FilterHelper.scala:104-116); callers do the same via
    :func:`meters_to_degrees`.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    d2 = dist_deg * dist_deg
    if geom.kind == "POINT":
        gx, gy = geom.rings[0][0]
        ddx, ddy = px - gx, py - gy
        return ddx * ddx + ddy * ddy <= d2
    # distance to boundary segments
    near = np.zeros(len(px), dtype=bool)
    for ring in geom.rings:
        if len(ring) < 2:
            gx, gy = ring[0]
            ddx, ddy = px - gx, py - gy
            near |= ddx * ddx + ddy * ddy <= d2
            continue
        md = seg_dist2(px, py, ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1])
        near |= md.min(axis=1) <= d2
    if geom.kind in ("POLYGON", "MULTIPOLYGON"):
        near |= contains(geom, px, py)
    return near


def intersects(geom: Geometry, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Point-vs-geometry intersects (point layer on the left)."""
    if geom.kind in ("POLYGON", "MULTIPOLYGON"):
        return contains(geom, px, py)
    return dwithin(geom, px, py, 0.0)


# one degree of great-circle arc on the haversine refine sphere —
# exactly 2*pi*R/360 for R=6371008.8 (same R as
# geometry_sql.haversine_m_col), = 111195.0802 m. Pruning radii
# meant to cover a haversine disc must use THIS sphere, not the
# (0.11% longer) ellipsoid equatorial 111320 m — else a thin sliver
# of true matches at the disc's lon extremes survives the exact
# refine but never becomes a candidate. geodesic_buffer_box uses the
# exact spherical-cap formula rather than this linearization.
SPHERE_DEG_M = 2.0 * math.pi * 6371008.8 / 360.0


def meters_to_degrees(
    meters: float, lat: float = 0.0, sphere: bool = False
) -> float:
    """Conservative meters->degrees conversion at given latitude.

    Parity with the reference's GeoTools-based rewrite
    (FilterHelper.scala:104-116): uses the larger of the lon/lat
    degree lengths shrunk by cos(lat), yielding a superset buffer
    that the exact refine then trims. `sphere=True` converts on the
    haversine refine sphere instead (use for pruning radii that must
    cover `haversine_m_col` discs — see SPHERE_DEG_M).
    """
    deg_lat_m = 110574.0
    lon_scale = SPHERE_DEG_M if sphere else 111320.0
    deg_lon_m = lon_scale * max(math.cos(math.radians(lat)), 1e-9)
    return meters / min(deg_lat_m, deg_lon_m)


def geodesic_buffer_box(
    xmin: float, ymin: float, xmax: float, ymax: float, meters: float
) -> tuple[float, float, float, float]:
    """ONE pruning box (xlo > xhi = crosses the antimeridian; split
    with `idl_safe_boxes` before scanning) covering every point
    within `meters` great-circle distance (haversine, R=6371008.8)
    of the input lon/lat box.

    Pole-safe: once the buffered latitude band touches a pole the
    disc reaches every longitude, so the box widens to full
    longitude (the disc's own latitudes still bound the band — an
    over-the-pole point sits at lat >= ymax - latrad mirrored, never
    below ymin - latrad). Away from the poles the longitude radius
    is the EXACT spherical-cap extreme asin(sin(r)/cos(lat)) at the
    box's poleward latitude — a poleward two-step linearization
    instead would overshoot the pole (cos floor -> astronomically
    wide) and degenerate to a full-longitude scan for every polar
    query with a modest radius (e.g. 10 km at lat 88).
    """
    latrad = meters / 110574.0  # >= great-circle meridian arc: conservative
    ylo = max(ymin - latrad, -90.0)
    yhi = min(ymax + latrad, 90.0)
    r = meters / 6371008.8  # angular radius on the refine sphere
    if (
        ymax + latrad >= 90.0
        or ymin - latrad <= -90.0
        or r >= math.pi / 2.0  # hemisphere+: skip the cap formula
    ):
        return (-180.0, ylo, 180.0, yhi)
    lat_ext = max(abs(ymin), abs(ymax))
    # past the pole check, |lat_ext| + r < 90 so the ratio is < 1;
    # the relative inflation absorbs float rounding at the extreme
    ratio = min(math.sin(r) / math.cos(math.radians(lat_ext)), 1.0)
    lonrad = math.degrees(math.asin(ratio)) * (1.0 + 1e-9) + 1e-12
    if (xmax - xmin) + 2.0 * lonrad >= 360.0:
        return (-180.0, ylo, 180.0, yhi)
    xlo, xhi = xmin - lonrad, xmax + lonrad
    if xlo < -180.0:
        xlo += 360.0
    if xhi > 180.0:
        xhi -= 360.0
    return (xlo, ylo, xhi, yhi)


# ---------------------------------------------------------------------------
# antimeridian (IDL) handling — GeohashUtils.scala:721-773
# ---------------------------------------------------------------------------


def idl_safe_boxes(
    xmin: float, ymin: float, xmax: float, ymax: float
) -> list[tuple[float, float, float, float]]:
    """Split a bbox that crosses ±180 into in-range boxes."""
    if xmin <= xmax:
        return [(max(xmin, -180.0), ymin, min(xmax, 180.0), ymax)]
    return [(xmin, ymin, 180.0, ymax), (-180.0, ymin, xmax, ymax)]


# ---------------------------------------------------------------------------
# geometry-vs-geometry intersects (numpy twin of the JVM
# geometry_sql.geom_intersects_sql — used by tests/oracles)
# ---------------------------------------------------------------------------


def _all_vertices(geom: Geometry) -> np.ndarray:
    return np.vstack(geom.rings)


def _all_segments(geom: Geometry) -> np.ndarray:
    """(S, 4) array of x0,y0,x1,y1 (degenerate for single points)."""
    segs = []
    for ring in geom.rings:
        if len(ring) == 1:
            x, y = ring[0]
            segs.append((x, y, x, y))
            continue
        for i in range(len(ring) - 1):
            segs.append((ring[i][0], ring[i][1], ring[i + 1][0], ring[i + 1][1]))
    return np.asarray(segs, dtype=np.float64)


def segments_cross(a: np.ndarray, b: np.ndarray) -> bool:
    """Any proper crossing between segment sets a (S,4) and b (T,4)."""

    def cross(sx0, sy0, sx1, sy1, px, py):
        return (sx1 - sx0) * (py - sy0) - (sy1 - sy0) * (px - sx0)

    ax0, ay0, ax1, ay1 = (a[:, i][:, None] for i in range(4))
    bx0, by0, bx1, by1 = (b[:, i][None, :] for i in range(4))
    d1 = cross(ax0, ay0, ax1, ay1, bx0, by0)
    d2 = cross(ax0, ay0, ax1, ay1, bx1, by1)
    d3 = cross(bx0, by0, bx1, by1, ax0, ay0)
    d4 = cross(bx0, by0, bx1, by1, ax1, ay1)
    return bool((((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))).any())


def geom_intersects(a: Geometry, b: Geometry) -> bool:
    """intersects(A, B) for any mix of point/line/polygon geometries.

    Vertex-containment + proper-edge-crossing decomposition — exact
    for non-degenerate inputs (same tolerance class as the JVM
    column form it twins, operators/geom_data.py)."""
    polyk = ("POLYGON", "MULTIPOLYGON")
    va, vb = _all_vertices(a), _all_vertices(b)
    if b.kind in polyk and bool(contains(b, va[:, 0], va[:, 1]).any()):
        return True
    if a.kind in polyk and bool(contains(a, vb[:, 0], vb[:, 1]).any()):
        return True
    return segments_cross(_all_segments(a), _all_segments(b))


def _clip_halfplane_x(pts: list, xval: float, keep_le: bool) -> list:
    """Sutherland-Hodgman clip of an open vertex list against the
    vertical halfplane lon <= xval (keep_le) or lon >= xval."""
    out = []
    n = len(pts)
    for i in range(n):
        cx, cy = pts[i]
        nx, ny = pts[(i + 1) % n]
        cin = cx <= xval if keep_le else cx >= xval
        nin = nx <= xval if keep_le else nx >= xval
        if cin:
            out.append((cx, cy))
        if cin != nin:
            t = (xval - cx) / (nx - cx)
            out.append((xval, cy + t * (ny - cy)))
    return out


def _unwrap_ring(ring: np.ndarray) -> list:
    """Make a ring's longitudes continuous: each consecutive delta
    < 180 in magnitude (vertices shifted by +-360 as needed)."""
    pts = [(float(ring[0][0]), float(ring[0][1]))]
    for x, y in ring[:-1][1:] if np.allclose(ring[0], ring[-1]) else ring[1:]:
        x = float(x)
        px = pts[-1][0]
        while x - px > 180.0:
            x -= 360.0
        while x - px < -180.0:
            x += 360.0
        pts.append((x, float(y)))
    return pts


def crosses_idl(geom: Geometry) -> bool:
    """True when any ring crosses the antimeridian: consecutive
    longitude jumps > 180 deg, or coordinates outside [-180, 180].

    The jump inference is the reference's DOCUMENTED input contract
    (GeohashUtils.scala:715-719, via spatial4j dateline inference):
    a successive lon diff > 180 deg means the segment wraps the IDL;
    to express a genuinely wide planar geometry (e.g. a full
    longitude band) the caller must insert waypoints so every
    consecutive diff is <= 180. A diff of exactly 180 stays planar."""
    for ring in geom.rings:
        xs = ring[:, 0]
        if xs.min() < -180.0 or xs.max() > 180.0:
            return True
        if len(xs) > 1 and np.abs(np.diff(xs)).max() > 180.0:
            return True
    return False


def split_idl_polygon(geom: Geometry) -> list[Geometry]:
    """Split an antimeridian-crossing POLYGON into in-range pieces
    (GeohashUtils.scala:721-773 parity: the reference translates the
    out-of-range half by 360 deg and intersects with the world box).

    Rings are unwrapped to continuous longitudes, shifted so the
    west edge lies in [-180, 180), then repeatedly cut at +180 with
    the overflow translated west by 360. Holes are clipped with the
    same halfplanes and attached to their side's piece.
    """
    if geom.kind != "POLYGON":
        raise ValueError(f"split_idl_polygon: {geom.kind}")
    shell = _unwrap_ring(geom.rings[0])
    xs = [x for x, _ in shell]
    shell_mid = (min(xs) + max(xs)) / 2.0
    # holes unwrap independently, then snap onto the shell's wrap
    # branch (a hole written on the other branch would otherwise
    # attach to the wrong piece and inflate its bbox to world-span)
    holes = []
    for h in geom.rings[1:]:
        hu = _unwrap_ring(h)
        hmid = sum(x for x, _ in hu) / len(hu)
        k = 360.0 * round((shell_mid - hmid) / 360.0)
        holes.append([(x + k, y) for x, y in hu])
    shift = 0.0
    while min(xs) + shift < -180.0:
        shift += 360.0
    while min(xs) + shift >= 180.0:
        shift -= 360.0
    shell = [(x + shift, y) for x, y in shell]
    holes = [[(x + shift, y) for x, y in h] for h in holes]

    pieces: list[Geometry] = []
    while shell:
        if max(x for x, _ in shell) <= 180.0:
            rings = [shell] + [h for h in holes if len(h) >= 3]
            if len(shell) >= 3:
                pieces.append(
                    Geometry(
                        "POLYGON",
                        [np.asarray(r + [r[0]], dtype=np.float64) for r in rings],
                        [0],
                    )
                )
            break
        west = _clip_halfplane_x(shell, 180.0, keep_le=True)
        west_holes = [
            _clip_halfplane_x(h, 180.0, keep_le=True) for h in holes
        ]
        if len(west) >= 3:
            rings = [west] + [h for h in west_holes if len(h) >= 3]
            pieces.append(
                Geometry(
                    "POLYGON",
                    [np.asarray(r + [r[0]], dtype=np.float64) for r in rings],
                    [0],
                )
            )
        shell = [
            (x - 360.0, y)
            for x, y in _clip_halfplane_x(shell, 180.0, keep_le=False)
        ]
        holes = [
            [(x - 360.0, y) for x, y in _clip_halfplane_x(h, 180.0, keep_le=False)]
            for h in holes
        ]
    return pieces


def normalize_idl(geom: Geometry) -> Geometry:
    """Identity for in-range geometries; an antimeridian-crossing
    POLYGON (or any crossing member of a MULTIPOLYGON) becomes a
    MULTIPOLYGON of in-range pieces (even-odd evaluation over the
    flattened edges equals the union, so every downstream
    cover/refine path composes unchanged)."""
    if not crosses_idl(geom):
        return geom
    if geom.kind == "POLYGON":
        members = [geom]
    elif geom.kind == "MULTIPOLYGON":
        starts = list(geom.poly_starts) + [len(geom.rings)]
        members = [
            Geometry("POLYGON", geom.rings[starts[i] : starts[i + 1]], [0])
            for i in range(len(geom.poly_starts))
        ]
    else:
        return geom  # lines/points near the seam have no area to split
    pieces: list[Geometry] = []
    for m in members:
        pieces.extend(split_idl_polygon(m) if crosses_idl(m) else [m])
    rings: list[np.ndarray] = []
    starts_out: list[int] = []
    for p in pieces:
        starts_out.append(len(rings))
        rings.extend(p.rings)
    return Geometry("MULTIPOLYGON", rings, starts_out)


def member_bounds(geom: Geometry) -> list[tuple[float, float, float, float]]:
    """Per-member bboxes (a MULTIPOLYGON of IDL pieces must not be
    covered by one world-spanning box)."""
    if geom.kind != "MULTIPOLYGON":
        return [geom.bounds]
    out = []
    starts = list(geom.poly_starts) + [len(geom.rings)]
    for i in range(len(geom.poly_starts)):
        pts = np.vstack(geom.rings[starts[i] : starts[i + 1]])
        out.append(
            (
                float(pts[:, 0].min()),
                float(pts[:, 1].min()),
                float(pts[:, 0].max()),
                float(pts[:, 1].max()),
            )
        )
    return out


def _seg_seg_d2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(S,4) x (T,4) -> (S,T) squared distances between segments:
    0 for proper crossings, else min of the four endpoint-to-other-
    segment distances (exact for non-degenerate segments)."""

    def pt_seg(px, py, s):
        x0, y0, x1, y1 = (s[:, i] for i in range(4))
        dx, dy = x1 - x0, y1 - y0
        ln2 = dx * dx + dy * dy
        ln2 = np.where(ln2 == 0.0, 1.0, ln2)
        t = ((px[:, None] - x0) * dx + (py[:, None] - y0) * dy) / ln2
        t = np.clip(t, 0.0, 1.0)
        cx, cy = x0 + t * dx, y0 + t * dy
        return (px[:, None] - cx) ** 2 + (py[:, None] - cy) ** 2

    d = np.minimum(pt_seg(a[:, 0], a[:, 1], b), pt_seg(a[:, 2], a[:, 3], b))
    d = np.minimum(d, pt_seg(b[:, 0], b[:, 1], a).T)
    d = np.minimum(d, pt_seg(b[:, 2], b[:, 3], a).T)

    def cross(sx0, sy0, sx1, sy1, px, py):
        return (sx1 - sx0) * (py - sy0) - (sy1 - sy0) * (px - sx0)

    ax0, ay0, ax1, ay1 = (a[:, i][:, None] for i in range(4))
    bx0, by0, bx1, by1 = (b[:, i][None, :] for i in range(4))
    d1 = cross(ax0, ay0, ax1, ay1, bx0, by0)
    d2 = cross(ax0, ay0, ax1, ay1, bx1, by1)
    d3 = cross(bx0, by0, bx1, by1, ax0, ay0)
    d4 = cross(bx0, by0, bx1, by1, ax1, ay1)
    crossing = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
    return np.where(crossing, 0.0, d)


def geom_dwithin(a: Geometry, b: Geometry, dist_deg: float) -> bool:
    """distance(A, B) <= dist_deg for any mix of point/line/polygon
    (numpy twin of geometry_sql.geom_dwithin_sql). Polygon
    interiors count: containment of either's vertex in the other is
    distance zero."""
    if geom_intersects(a, b):
        return True
    sa, sb = _all_segments(a), _all_segments(b)
    return bool(_seg_seg_d2(sa, sb).min() <= dist_deg * dist_deg)


def geometry_wkt(geom: Geometry) -> str:
    """Render a Geometry back to WKT (POINT/LINESTRING/POLYGON/
    MULTIPOLYGON)."""

    def ring(r):
        # float() first: numpy 2.x repr of float64 scalars is
        # 'np.float64(...)', which would poison the WKT
        return "(" + ", ".join(f"{float(x)!r} {float(y)!r}" for x, y in r) + ")"

    if geom.kind == "POINT":
        x, y = geom.rings[0][0]
        return f"POINT ({float(x)!r} {float(y)!r})"
    if geom.kind == "LINESTRING":
        return "LINESTRING " + ring(geom.rings[0])
    if geom.kind == "POLYGON":
        return "POLYGON (" + ", ".join(ring(r) for r in geom.rings) + ")"
    if geom.kind == "MULTIPOLYGON":
        starts = list(geom.poly_starts) + [len(geom.rings)]
        members = [
            "(" + ", ".join(
                ring(r) for r in geom.rings[starts[i] : starts[i + 1]]
            ) + ")"
            for i in range(len(geom.poly_starts))
        ]
        return "MULTIPOLYGON (" + ", ".join(members) + ")"
    raise ValueError(f"geometry_wkt: {geom.kind}")


def split_idl_wkt(wkt: str) -> list[str]:
    """WKT-in/WKT-out antimeridian split: an IDL-crossing POLYGON
    becomes one WKT per in-range piece; anything else passes through
    unchanged (the per-row form of `normalize_idl`, for preparing
    geometry-table rows before `geom_table`/`geom_cover_cells`)."""
    g = parse_wkt(wkt)
    if g.kind != "POLYGON" or not crosses_idl(g):
        return [wkt]
    return [geometry_wkt(p) for p in split_idl_polygon(g)]
