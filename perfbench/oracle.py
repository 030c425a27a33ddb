"""Independent output checks: numpy evaluations written here, apart
from the engine (no ``geomesa_spark`` import in this module).

* ``query_mask``: an ECQL query of the generated mix over the
  generated features — BBOX inclusive, DURING exclusive, polygons by
  even-odd crossing.
* ``pip_pairs``: brute-force point-in-polygon for every polygon.
* ``z2`` / ``z3``: plain bit-by-bit interleaves (no magic masks).
* ``mvt_tile`` / ``check_tiles``: a protobuf reader for MVT blobs
  and the extent, winding and area checks on what it decodes.
"""

from __future__ import annotations

import numpy as np

XY_BITS, T_BITS = 21, 20
WEEK_S = 604800


class CheckError(AssertionError):
    pass


def require(ok, what: str) -> None:
    if not ok:
        raise CheckError(what)


# ---------------------------------------------------------------------------
# geometry
# ---------------------------------------------------------------------------

def even_odd(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Crossing-number containment for a closed ring."""
    inside = np.zeros(len(px), dtype=bool)
    for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
        straddle = (y0 > py) != (y1 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
        inside ^= straddle & (px < xint)
    return inside


def in_box(lon, lat, b) -> np.ndarray:
    return (lon >= b[0]) & (lon <= b[2]) & (lat >= b[1]) & (lat <= b[3])


def query_mask(q, pts) -> np.ndarray:
    n = len(pts)
    m = np.ones(n, dtype=bool)
    if q.kind == "or_boxes":
        return in_box(pts.lon, pts.lat, q.box) | in_box(pts.lon, pts.lat, q.box2)
    if q.box is not None:
        m &= in_box(pts.lon, pts.lat, q.box)
    if q.t is not None:
        m &= (pts.epoch > q.t[0]) & (pts.epoch < q.t[1])
    if q.ring is not None:
        r = q.ring
        bb = in_box(pts.lon, pts.lat, (r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max()))
        m &= bb
        idx = np.nonzero(m)[0]
        m[idx] = even_odd(pts.lon[idx], pts.lat[idx], r)
    if q.ids is not None:
        m &= np.isin(np.arange(n), q.ids)
    if q.id_lt is not None:
        m &= np.arange(n) < q.id_lt
    return m


def pip_pairs(pts, rings) -> np.ndarray:
    """Sorted ``doc_index * 1024 + poly_index`` codes of every
    (point, polygon) containment pair."""
    out = []
    for k, r in enumerate(rings):
        bb = in_box(pts.lon, pts.lat, (r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max()))
        idx = np.nonzero(bb)[0]
        hit = idx[even_odd(pts.lon[idx], pts.lat[idx], r)]
        out.append(hit.astype(np.int64) * 1024 + k)
    return np.sort(np.concatenate(out)) if out else np.zeros(0, np.int64)


# ---------------------------------------------------------------------------
# curve keys
# ---------------------------------------------------------------------------

def _grid(v, lo, span, bits):
    n = 1 << bits
    return np.clip(np.floor((v - lo) / span * float(n)), 0, n - 1).astype(np.int64)


def interleave(parts: list[np.ndarray], bits: int) -> np.ndarray:
    """Bit i of parts[d] lands at bit ``i * len(parts) + d``."""
    z = np.zeros(len(parts[0]), dtype=np.int64)
    k = len(parts)
    for i in range(bits):
        for d, p in enumerate(parts):
            z |= ((p >> i) & 1) << (i * k + d)
    return z


def z2(lon, lat) -> np.ndarray:
    return interleave([_grid(lon + 180.0, 0.0, 360.0, XY_BITS),
                       _grid(lat + 90.0, 0.0, 180.0, XY_BITS)], XY_BITS)


def z3(lon, lat, epoch) -> np.ndarray:
    t = _grid(np.mod(epoch, WEEK_S).astype(np.float64), 0.0, float(WEEK_S), T_BITS)
    return interleave([_grid(lon + 180.0, 0.0, 360.0, XY_BITS),
                       _grid(lat + 90.0, 0.0, 180.0, XY_BITS), t], XY_BITS)


# ---------------------------------------------------------------------------
# MVT (vector-tile-spec 2.1) reader
# ---------------------------------------------------------------------------

def _varint(buf: bytes, i: int) -> tuple[int, int]:
    v = shift = 0
    while True:
        b = buf[i]
        i += 1
        v |= (b & 0x7F) << shift
        if b < 0x80:
            return v, i
        shift += 7


def _fields(buf: bytes):
    """Yield (tag, wire, value) over one protobuf message; length-
    delimited values come back as bytes."""
    i = 0
    while i < len(buf):
        key, i = _varint(buf, i)
        tag, wire = key >> 3, key & 7
        if wire == 0:
            v, i = _varint(buf, i)
        elif wire == 2:
            ln, i = _varint(buf, i)
            v = buf[i:i + ln]
            i += ln
        else:
            raise CheckError(f"unexpected wire type {wire}")
        yield tag, wire, v


def _packed(buf: bytes) -> list[int]:
    out, i = [], 0
    while i < len(buf):
        v, i = _varint(buf, i)
        out.append(v)
    return out


def _rings(cmds: list[int]) -> list[list[tuple[int, int]]]:
    rings: list[list[tuple[int, int]]] = []
    x = y = 0
    i = 0
    while i < len(cmds):
        cid, cnt = cmds[i] & 7, cmds[i] >> 3
        i += 1
        if cid == 7:
            require(cnt == 1 and rings, "ClosePath without a ring")
            continue
        require(cid in (1, 2), f"unknown command {cid}")
        require(cid == 2 or cnt == 1, "polygon MoveTo with count != 1")
        for _ in range(cnt):
            dx, dy = cmds[i], cmds[i + 1]
            i += 2
            x += (dx >> 1) ^ -(dx & 1)
            y += (dy >> 1) ^ -(dy & 1)
            if cid == 1:
                rings.append([])
            rings[-1].append((x, y))
    return rings


def mvt_tile(blob: bytes) -> dict:
    """{extent, version, features: [(id, type, rings)]} of a 1-layer tile."""
    layers = [v for tag, _, v in _fields(blob) if tag == 3]
    require(len(layers) == 1, f"expected 1 layer, got {len(layers)}")
    out = {"features": [], "extent": 4096, "version": 1}
    for tag, _, v in _fields(layers[0]):
        if tag == 15:
            out["version"] = v
        elif tag == 5:
            out["extent"] = v
        elif tag == 2:
            fid = gtype = None
            rings = []
            for ftag, _, fv in _fields(v):
                if ftag == 1:
                    fid = fv
                elif ftag == 3:
                    gtype = fv
                elif ftag == 4:
                    rings = _rings(_packed(fv))
            out["features"].append((fid, gtype, rings))
    return out


def area2(ring) -> int:
    """Twice the signed shoelace area on the tile grid (y down):
    positive = clockwise on screen = an MVT v2 exterior ring."""
    a = 0
    n = len(ring)
    for k in range(n):
        x0, y0 = ring[k]
        x1, y1 = ring[(k + 1) % n]
        a += x0 * y1 - x1 * y0
    return a


def perimeter(ring) -> float:
    r = np.asarray(ring, dtype=np.float64)
    return float(np.hypot(*(np.roll(r, -1, axis=0) - r).T).sum())


def mercator_area(ring: np.ndarray) -> float:
    """Shoelace area of a lon/lat ring projected to web-mercator unit
    space ([0, 1] squared)."""
    mx = (ring[:, 0] + 180.0) / 360.0
    lat = np.clip(ring[:, 1], -85.0511287798066, 85.0511287798066)
    my = (1.0 - np.log(np.tan(np.pi / 4 + np.radians(lat) / 2.0)) / np.pi) / 2.0
    return abs(float(np.dot(mx[:-1], my[1:]) - np.dot(mx[1:], my[:-1]))) / 2.0


def check_tiles(tiles, rings, zoom: int, extent: int = 4096) -> None:
    """Decode every blob and check extent, winding and per-polygon area.

    `tiles`: iterable of (z, tx, ty, n_features, blob)."""
    area = np.zeros(len(rings))
    perim = np.zeros(len(rings))
    for z, tx, ty, nf, blob in tiles:
        require(z == zoom, f"tile zoom {z} != {zoom}")
        t = mvt_tile(blob)
        require(t["version"] == 2 and t["extent"] == extent, "layer version/extent")
        require(len(t["features"]) == nf, "n_features disagrees with the blob")
        for fid, gtype, frings in t["features"]:
            require(gtype == 3 and 0 <= fid < len(rings), f"feature {fid} type {gtype}")
            require(frings, f"feature {fid} has no rings")
            for r in frings:
                require(len(r) >= 3, f"feature {fid}: ring of {len(r)} vertices")
                xs = [p[0] for p in r]
                ys = [p[1] for p in r]
                require(min(xs) >= 0 and min(ys) >= 0 and max(xs) <= extent
                        and max(ys) <= extent, f"feature {fid}: vertex outside the extent")
                a = area2(r)
                # the generated polygons have no holes, so every ring
                # is an exterior ring: clockwise on the y-down grid
                require(a >= 0, f"feature {fid}: exterior ring wound counter-clockwise")
                area[fid] += a / 2.0
                perim[fid] += perimeter(r)
    scale = float((1 << zoom) * extent) ** 2
    want = np.array([mercator_area(r) for r in rings]) * scale
    # each quantized vertex moves by at most half a unit on each axis
    tol = 0.75 * perim + 1.0
    bad = np.nonzero(np.abs(area - want) > tol)[0]
    require(len(bad) == 0, f"{len(bad)} polygons' clipped area off their mercator area"
            + (f" (first: {bad[0]}: {area[bad[0]]:.1f} vs {want[bad[0]]:.1f})" if len(bad) else ""))
