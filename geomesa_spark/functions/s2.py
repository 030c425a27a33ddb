"""S2-style spherical cell ids: cube-face quadtree + Hilbert curve.

The north-star re-imagination of the reference's space-filling-curve
keys (geomesa-z3/.../curve/Z3.scala, geomesa-utils geohash/*) on the
sphere instead of the lon/lat plane: points project onto the six
faces of a circumscribed cube, each face carries a quadtree whose
leaves are ordered by a Hilbert curve, and a cell id packs
(face, hilbert position, level) into one 64-bit key.  Like the
engine's Z2/Z3 cells this is a *pure Spark column expression* —
bitwise ops, CASE, sqrt, one sin/cos pair — that stays inside
whole-stage codegen with no Python on the hot path, plus numpy twins
for the driver-side planner and tests.

Published geometry (the s2geometry library's public cell model,
re-derived here — no code copied):

- face = axis of the largest |XYZ| component (+x,+y,+z,-x,-y,-z ->
  0..5); (u,v) are the two remaining components divided by the
  dominant one (a gnomonic projection onto the cube face).
- s = uv->st quadratic reprojection ``0.5*sqrt(1+3u)`` /
  ``1-0.5*sqrt(1-3u)`` that equalizes cell areas across a face.
- (i, j) = ``floor(s * 2^level)`` clamped to the grid.
- Hilbert position: per level, (i-bit, j-bit) maps to a curve
  quadrant through a 4-orientation lookup table; the orientation
  starts at ``face & 1`` and flips per quadrant, which is what makes
  consecutive positions spatially adjacent (verified by the
  continuity test in tests/test_s2.py).
- 64-bit layout: ``face << 61 | pos << (2*(30-level)+1) |
  1 << (2*(30-level))`` — the trailing set bit encodes the level, so
  a parent's id range ``[id - lsb + 1, id + lsb - 1]`` contains
  exactly its descendants and an ancestor scan is ONE contiguous
  integer range (the property that makes this an index, not just a
  label: a `cell BETWEEN lo AND hi` predicate pushes down to
  parquet min/max stats like the engine's Z2 scans).

Signedness: ids are the S2 bit layout reinterpreted as int64 (Spark
LongType has no unsigned).  Faces 4-5 have the top bit set and sort
before faces 0-3 in signed order; WITHIN a face — where every
ancestor range lives — ordering and BETWEEN semantics are identical
to the unsigned layout, so range scans are unaffected.

Angle conversion note: radians are ``deg * 0.017453292519943295``
(one correctly-rounded multiply) rather than ``radians()`` — Java's
``toRadians`` divides by 180 before multiplying by pi while C
libraries multiply by pi/180, and the differing op order would make
the JVM and the DuckDB oracle disagree in the last ulp *before* the
trig even runs.  With the shared constant, only sin/cos themselves
can diverge (sqrt and division are IEEE-exact), and a divergence
flips a cell only when the true coordinate sits within ~1e-16 of a
1/2^level grid boundary.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_LEVEL = 30
DEG2RAD = 0.017453292519943295  # double nearest pi/180

# Hilbert sub-cell tables, flattened [orientation*4 + key].
# _IJ_TO_POS: (i-bit, j-bit) pair (ij = 2i+j) -> position on the curve.
# _NEXT_ORIENT: orientation for the child quadrant just entered.
# _POS_TO_IJ: inverse (decode); _POS_TO_ORIENT xors into the
# orientation after emitting pos (decode side).
_IJ_TO_POS = (0, 1, 3, 2, 0, 3, 1, 2, 2, 3, 1, 0, 2, 1, 3, 0)
_NEXT_ORIENT = (1, 0, 3, 0, 0, 2, 1, 1, 2, 1, 2, 3, 3, 3, 0, 2)
_POS_TO_IJ = (0, 1, 3, 2, 0, 2, 3, 1, 3, 2, 0, 1, 3, 1, 0, 2)
_POS_TO_ORIENT = (1, 0, 0, 3)
def _walk_py(i: int, j: int, o: int, c: int) -> tuple[int, int]:
    """Reference per-level walk over `c` levels (table generator)."""
    pos = 0
    for k in range(c - 1, -1, -1):
        idx = o * 4 + (((i >> k) & 1) * 2 + ((j >> k) & 1))
        pos = (pos << 2) | _IJ_TO_POS[idx]
        o = _NEXT_ORIENT[idx]
    return pos, o


def _chunk_table(c: int) -> tuple[int, ...]:
    """Flattened c-level step table: index (ic << (c+2)) | (jc << 2)
    | orientation -> pos(2c bits)*4 | next_orientation.  The classic
    S2 multi-level lookup — c=4 turns a 12-level walk into 3 steps."""
    out = []
    for ic in range(1 << c):
        for jc in range(1 << c):
            for o in range(4):
                pos, oo = _walk_py(ic, jc, o, c)
                out.append(pos * 4 + oo)
    return tuple(out)


_CHUNK_TABLES = {c: _chunk_table(c) for c in (1, 2, 3, 4)}


# ---------------------------------------------------------------------------
# Spark column expressions
# ---------------------------------------------------------------------------


def _xyz_cols(lon: Column, lat: Column) -> tuple[Column, Column, Column]:
    lonr = lon * F.lit(DEG2RAD)
    latr = lat * F.lit(DEG2RAD)
    cl = F.cos(latr)
    return cl * F.cos(lonr), cl * F.sin(lonr), F.sin(latr)


def st_from_uv(u: Column) -> Column:
    """Area-equalizing quadratic projection, uv [-1,1] -> st [0,1]."""
    return F.when(
        u >= 0, F.lit(0.5) * F.sqrt(F.lit(1.0) + F.lit(3.0) * u)
    ).otherwise(F.lit(1.0) - F.lit(0.5) * F.sqrt(F.lit(1.0) - F.lit(3.0) * u))


def _ij_col(s: Column, level: int) -> Column:
    n = 1 << level
    ix = F.floor(s * F.lit(float(n)))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), ix)).cast("long")


def _hilbert_fold_col(face: Column, i: Column, j: Column, level: int) -> Column:
    """Hilbert position as ONE atomic fold expression.

    The walk is sequential (each level's orientation feeds the next),
    which rules out two naive formulations:
    - a nested Column expression re-embeds each level's subtrees and
      grows exponentially (codegen OOM at level 12);
    - staged per-level projections stay linear in the plan, but a
      filter on the derived cell gets pushed back through the
      projections by PushPredicateThroughNonJoin, whose alias
      substitution re-creates the same exponential tree (observed:
      heap OOM planning `cell BETWEEN lo AND hi` over the staged
      form).
    An `aggregate()` fold is a single expression node — pushdown
    substitutes it once, CSE and plan size stay O(level).  Lambda
    bodies are interpreted rather than codegen'd, so the walk uses
    the classic S2 multi-level trick: 4-level chunk tables (1024
    entries, pos byte + orientation nibble fused) collapse a
    level-12 walk to 3 fold steps, with the remainder levels folded
    into the init state through the matching 1-3 level table."""
    init = face.bitwiseAND(F.lit(1)).cast("long")
    r = level % 4
    if r:
        # fold the non-multiple-of-4 remainder (the HIGH bits) into
        # the init state with the matching small table — one lookup,
        # still inside the single aggregate expression
        tab_r = F.array(*[F.lit(t) for t in _CHUNK_TABLES[r]])
        mask = (1 << r) - 1
        idx_r = (
            F.shiftrightunsigned(i, level - r).bitwiseAND(F.lit(mask))
            * F.lit(1 << (r + 2))
            + F.shiftrightunsigned(j, level - r).bitwiseAND(F.lit(mask))
            * F.lit(4)
            + init
        ).cast("int")
        init = F.element_at(tab_r, idx_r + F.lit(1)).cast("long")
    chunks = level // 4
    if chunks == 0:
        return F.shiftrightunsigned(init, 2)
    tab4 = F.array(*[F.lit(t) for t in _CHUNK_TABLES[4]])
    elems = F.array(
        *[
            (
                F.shiftrightunsigned(i, 4 * m).bitwiseAND(F.lit(15)) * F.lit(64)
                + F.shiftrightunsigned(j, 4 * m).bitwiseAND(F.lit(15)) * F.lit(4)
            ).cast("int")
            for m in range(chunks - 1, -1, -1)
        ]
    )
    return F.aggregate(
        elems,
        init,
        lambda acc, e: F.shiftleft(F.shiftrightunsigned(acc, 2), 10).bitwiseOR(
            F.element_at(
                tab4, (e + acc.bitwiseAND(F.lit(3)).cast("int")) + F.lit(1)
            ).cast("long")
        ),
        lambda acc: F.shiftrightunsigned(acc, 2),
    )


def with_s2_cell(df, lon: Column, lat: Column, level: int, out: str = "s2_cell"):
    """Add an S2-layout cell id column at `level`.

    A DataFrame transform, not a single Column expression: face/i/j
    are materialized as projection stages (their DAG has bounded
    fan-out, so Catalyst substitution stays linear), and the
    sequential Hilbert walk is one atomic fold (_hilbert_fold_col)
    so that predicates on the output column — the range scans that
    make this an index — survive pushdown without exponential alias
    substitution.  No Python anywhere in the plan (asserted by the
    plan-shape test)."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be 0..{MAX_LEVEL}, got {level}")
    P = "__s2_"
    x, y, z = _xyz_cols(lon, lat)
    df = df.withColumns({P + "x": x, P + "y": y, P + "z": z})
    cx, cy, cz = F.col(P + "x"), F.col(P + "y"), F.col(P + "z")
    ax, ay, az = F.abs(cx), F.abs(cy), F.abs(cz)
    face = (
        F.when((ax >= ay) & (ax >= az), F.when(cx >= 0, 0).otherwise(3))
        .when(ay >= az, F.when(cy >= 0, 1).otherwise(4))
        .otherwise(F.when(cz >= 0, 2).otherwise(5))
    ).cast("int")
    df = df.withColumn(P + "face", face)
    fc = F.col(P + "face")
    u = (
        F.when(fc == 0, cy / cx)
        .when(fc == 1, -cx / cy)
        .when(fc == 2, -cx / cz)
        .when(fc == 3, cz / cx)
        .when(fc == 4, cz / cy)
        .otherwise(-cy / cz)
    )
    v = (
        F.when(fc == 0, cz / cx)
        .when(fc == 1, cz / cy)
        .when(fc == 2, -cy / cz)
        .when(fc == 3, cy / cx)
        .when(fc == 4, -cx / cy)
        .otherwise(-cx / cz)
    )
    df = df.withColumns(
        {
            P + "i": _ij_col(st_from_uv(u), level),
            P + "j": _ij_col(st_from_uv(v), level),
        }
    )
    pos = _hilbert_fold_col(fc, F.col(P + "i"), F.col(P + "j"), level)
    shift = 2 * (MAX_LEVEL - level) + 1
    lsb = 1 << (2 * (MAX_LEVEL - level))
    df = df.withColumn(
        out,
        F.shiftleft(fc.cast("long"), 61)
        .bitwiseOR(F.shiftleft(pos, shift))
        .bitwiseOR(F.lit(lsb)),
    )
    return df.drop(*[c for c in df.columns if c.startswith(P)])


def s2_decode_face_pos(cell: Column, level: int) -> tuple[Column, Column]:
    face = F.shiftrightunsigned(cell, 61).cast("int")
    shift = 2 * (MAX_LEVEL - level) + 1
    pos = F.shiftrightunsigned(cell, shift).bitwiseAND(
        F.lit((1 << (2 * level)) - 1)
    )
    return face, pos


# fused decode step: child ij pair and next orientation in one nibble,
# indexed by orientation*4 + pos-quadrant
_DCOMB = tuple(
    _POS_TO_IJ[o * 4 + p] * 4 + (o ^ _POS_TO_ORIENT[p])
    for o in range(4)
    for p in range(4)
)


def _unhilbert_fold_col(face: Column, pos: Column, level: int) -> Column:
    """Inverse Hilbert walk as ONE atomic fold (same rationale as
    _hilbert_fold_col): fold state packs i<<32 | j<<2 | orientation,
    returned packed (callers shift out the halves)."""
    comb = F.array(*[F.lit(c) for c in _DCOMB])
    p_arr = F.array(
        *[
            F.shiftrightunsigned(pos, 2 * k).bitwiseAND(F.lit(3)).cast("int")
            for k in range(level - 1, -1, -1)
        ]
    )
    init = face.bitwiseAND(F.lit(1)).cast("long")

    def step(acc: Column, p: Column) -> Column:
        nib = F.element_at(
            comb, (acc.bitwiseAND(F.lit(3)).cast("int") * F.lit(4) + p) + F.lit(1)
        ).cast("long")
        i = F.shiftleft(F.shiftrightunsigned(acc, 32), 1).bitwiseOR(
            F.shiftrightunsigned(nib, 3).bitwiseAND(F.lit(1))
        )
        j = F.shiftleft(
            F.shiftrightunsigned(acc, 2).bitwiseAND(F.lit(0x3FFFFFFF)), 1
        ).bitwiseOR(F.shiftrightunsigned(nib, 2).bitwiseAND(F.lit(1)))
        return (
            F.shiftleft(i, 32)
            .bitwiseOR(F.shiftleft(j, 2))
            .bitwiseOR(nib.bitwiseAND(F.lit(3)))
        )

    return F.aggregate(p_arr, init, step)


def s2_decode_ij(cell: Column, level: int) -> tuple[Column, Column, Column]:
    """cell id -> (face, i, j) at `level` (inverse Hilbert walk).

    i and j each carry their own copy of the atomic fold; pass a
    materialized column reference for `cell` to keep the shared
    face/pos subexpressions cheap."""
    face, pos = s2_decode_face_pos(cell, level)
    packed = _unhilbert_fold_col(face, pos, level)
    i = F.shiftrightunsigned(packed, 32)
    j = F.shiftrightunsigned(packed, 2).bitwiseAND(F.lit(0x3FFFFFFF))
    return face, i, j


def s2_parent_col(cell: Column, parent_level: int) -> Column:
    """Ancestor id at `parent_level` (clear low bits, set new lsb)."""
    new_lsb = 1 << (2 * (MAX_LEVEL - parent_level))
    return cell.bitwiseAND(F.lit(-new_lsb)).bitwiseOR(F.lit(new_lsb))


def s2_token_col(cell: Column) -> Column:
    """S2-convention token: lowercase hex, trailing zeros stripped."""
    h = F.lower(F.lpad(F.hex(cell), 16, "0"))
    return F.regexp_replace(h, "0+$", "")


# ---------------------------------------------------------------------------
# numpy twins (planner + tests)
# ---------------------------------------------------------------------------


def _xyz_np(lon: np.ndarray, lat: np.ndarray):
    lonr = np.asarray(lon, dtype=np.float64) * DEG2RAD
    latr = np.asarray(lat, dtype=np.float64) * DEG2RAD
    cl = np.cos(latr)
    return cl * np.cos(lonr), cl * np.sin(lonr), np.sin(latr)


def face_uv_np(lon: np.ndarray, lat: np.ndarray):
    x, y, z = _xyz_np(lon, lat)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(
        (ax >= ay) & (ax >= az),
        np.where(x >= 0, 0, 3),
        np.where(ay >= az, np.where(y >= 0, 1, 4), np.where(z >= 0, 2, 5)),
    ).astype(np.int64)
    num_u = [y, -x, -x, z, z, -y]
    num_v = [z, z, -y, y, -x, -x]
    den = [x, y, z, x, y, z]
    u = np.empty_like(x)
    v = np.empty_like(x)
    for f in range(6):
        m = face == f
        u[m] = num_u[f][m] / den[f][m]
        v[m] = num_v[f][m] / den[f][m]
    return face, u, v


def st_from_uv_np(u: np.ndarray) -> np.ndarray:
    u = np.asarray(u, dtype=np.float64)
    # clip only shields the UNSELECTED where-branch from sqrt(<0)
    return np.where(
        u >= 0,
        0.5 * np.sqrt(1.0 + 3.0 * np.clip(u, 0.0, None)),
        1.0 - 0.5 * np.sqrt(1.0 - 3.0 * np.clip(u, None, 0.0)),
    )


def uv_from_st_np(s: np.ndarray) -> np.ndarray:
    s = np.asarray(s, dtype=np.float64)
    return np.where(
        s >= 0.5, (4.0 * s * s - 1.0) / 3.0, (1.0 - 4.0 * (1.0 - s) ** 2) / 3.0
    )


def ij_np(s: np.ndarray, level: int) -> np.ndarray:
    n = 1 << level
    return np.clip(np.floor(s * float(n)), 0, n - 1).astype(np.int64)


def hilbert_pos_np(
    face: np.ndarray, i: np.ndarray, j: np.ndarray, level: int
) -> np.ndarray:
    ij2pos = np.asarray(_IJ_TO_POS, dtype=np.int64)
    nexto = np.asarray(_NEXT_ORIENT, dtype=np.int64)
    orient = np.asarray(face, dtype=np.int64) & 1
    pos = np.zeros_like(orient)
    for k in range(level - 1, -1, -1):
        ij = ((i >> k) & 1) * 2 + ((j >> k) & 1)
        idx = orient * 4 + ij
        pos = (pos << 2) | ij2pos[idx]
        orient = nexto[idx]
    return pos


def hilbert_ij_np(
    face: np.ndarray, pos: np.ndarray, level: int
) -> tuple[np.ndarray, np.ndarray]:
    pos2ij = np.asarray(_POS_TO_IJ, dtype=np.int64)
    pos2o = np.asarray(_POS_TO_ORIENT, dtype=np.int64)
    orient = np.asarray(face, dtype=np.int64) & 1
    pos = np.asarray(pos, dtype=np.int64)
    i = np.zeros_like(pos)
    j = np.zeros_like(pos)
    for k in range(level - 1, -1, -1):
        p = (pos >> (2 * k)) & 3
        ij = pos2ij[orient * 4 + p]
        i = (i << 1) | (ij >> 1)
        j = (j << 1) | (ij & 1)
        orient = orient ^ pos2o[p]
    return i, j


def s2_cell_np(lon: np.ndarray, lat: np.ndarray, level: int) -> np.ndarray:
    face, u, v = face_uv_np(lon, lat)
    i = ij_np(st_from_uv_np(u), level)
    j = ij_np(st_from_uv_np(v), level)
    return cell_from_face_ij_np(face, i, j, level)


def cell_from_face_ij_np(
    face: np.ndarray, i: np.ndarray, j: np.ndarray, level: int
) -> np.ndarray:
    pos = hilbert_pos_np(face, i, j, level)
    shift = 2 * (MAX_LEVEL - level) + 1
    lsb = 1 << (2 * (MAX_LEVEL - level))
    raw = (
        (np.asarray(face, dtype=np.uint64) << np.uint64(61))
        | (pos.astype(np.uint64) << np.uint64(shift))
        | np.uint64(lsb)
    )
    return raw.astype(np.int64)


def s2_decode_np(cell: np.ndarray, level: int):
    """cell -> (face, i, j) at `level`."""
    c = np.asarray(cell, dtype=np.int64).astype(np.uint64)
    face = (c >> np.uint64(61)).astype(np.int64)
    shift = 2 * (MAX_LEVEL - level) + 1
    pos = ((c >> np.uint64(shift)) & np.uint64((1 << (2 * level)) - 1)).astype(
        np.int64
    )
    i, j = hilbert_ij_np(face, pos, level)
    return face, i, j


def s2_center_np(cell: np.ndarray, level: int):
    """cell -> (lon, lat) of the cell-center direction."""
    face, i, j = s2_decode_np(cell, level)
    n = float(1 << level)
    u = uv_from_st_np((i.astype(np.float64) + 0.5) / n)
    v = uv_from_st_np((j.astype(np.float64) + 0.5) / n)
    one = np.ones_like(u)
    xyz_by_face = [
        (one, u, v),
        (-u, one, v),
        (-u, -v, one),
        (-one, -v, -u),
        (v, -one, -u),
        (v, u, -one),
    ]
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    for f in range(6):
        m = face == f
        fx, fy, fz = xyz_by_face[f]
        x[m], y[m], z[m] = fx[m], fy[m], fz[m]
    lon = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arctan2(z, np.sqrt(x * x + y * y)))
    return lon, lat


def s2_range_np(cell: int, level: int) -> tuple[int, int]:
    lsb = 1 << (2 * (MAX_LEVEL - level))
    return int(cell) - (lsb - 1), int(cell) + (lsb - 1)


def s2_parent_np(cell: np.ndarray, parent_level: int) -> np.ndarray:
    new_lsb = np.int64(1 << (2 * (MAX_LEVEL - parent_level)))
    return (np.asarray(cell, dtype=np.int64) & -new_lsb) | new_lsb


# ---------------------------------------------------------------------------
# region cover + range scan (the S2 analog of the Z2 cover planner)
# ---------------------------------------------------------------------------

# face frames as (x, y, z) component descriptors: each component is
# ('c', +-1) constant, ('u', +-1) or ('v', +-1) — XYZ is LINEAR in
# (u, v) on a face, which is what makes exact interval bounds trivial
_FACE_FRAME = (
    (("c", 1), ("u", 1), ("v", 1)),     # face 0: ( 1,  u,  v)
    (("u", -1), ("c", 1), ("v", 1)),    # face 1: (-u,  1,  v)
    (("u", -1), ("v", -1), ("c", 1)),   # face 2: (-u, -v,  1)
    (("c", -1), ("v", -1), ("u", -1)),  # face 3: (-1, -v, -u)
    (("v", 1), ("c", -1), ("u", -1)),   # face 4: ( v, -1, -u)
    (("v", 1), ("u", 1), ("c", -1)),    # face 5: ( v,  u, -1)
)

_COVER_EPS = 1e-9  # degrees of conservative padding on cell bounds


def _comp_interval(desc, u0, u1, v0, v1):
    kind, sgn = desc
    if kind == "c":
        return (sgn, sgn) if sgn > 0 else (sgn, sgn)
    lo, hi = (u0, u1) if kind == "u" else (v0, v1)
    return (sgn * lo, sgn * hi) if sgn > 0 else (sgn * hi, sgn * lo)


def _cell_lonlat_bounds(face, level, i, j):
    """Conservative lon/lat bounds of cell (face, i, j) via interval
    arithmetic on the linear face frame — the outer box can only be
    too WIDE, so a disjointness prune is always safe.  Returns
    (lat0, lat1, lon_arcs) where lon_arcs is 1-2 [lo, hi] intervals
    (2 when the cell's longitude span crosses the +-180 seam) or
    None for full longitude (cell touches a pole axis)."""
    import math

    n = 1 << level
    u0, u1 = (uv_from_st_np(np.array([i / n, (i + 1) / n]))).tolist()
    v0, v1 = (uv_from_st_np(np.array([j / n, (j + 1) / n]))).tolist()
    fx, fy, fz = _FACE_FRAME[face]
    x0, x1 = _comp_interval(fx, u0, u1, v0, v1)
    y0, y1 = _comp_interval(fy, u0, u1, v0, v1)
    z0, z1 = _comp_interval(fz, u0, u1, v0, v1)
    ax0 = 0.0 if x0 <= 0.0 <= x1 else min(abs(x0), abs(x1))
    ax1 = max(abs(x0), abs(x1))
    ay0 = 0.0 if y0 <= 0.0 <= y1 else min(abs(y0), abs(y1))
    ay1 = max(abs(y0), abs(y1))
    rho0 = math.hypot(ax0, ay0)
    rho1 = math.hypot(ax1, ay1)
    # lat monotone: increasing in z, decreasing in rho
    lat0 = math.degrees(math.atan2(z0, rho1 if z0 >= 0 else rho0))
    lat1 = math.degrees(math.atan2(z1, rho0 if z1 >= 0 else rho1))
    lat0 -= _COVER_EPS
    lat1 += _COVER_EPS
    if x0 <= 0.0 <= x1 and y0 <= 0.0 <= y1:
        return lat0, lat1, None  # (x,y) rect contains the origin
    # convex rect not containing origin -> angle extremes at corners,
    # arc span < 180 deg; take the minimal arc containing all corners
    corners = [
        math.degrees(math.atan2(y, x))
        for x in (x0, x1)
        for y in (y0, y1)
    ]
    corners.sort()
    gaps = [
        (corners[(k + 1) % 4] - corners[k]) % 360.0 for k in range(4)
    ]
    kmax = max(range(4), key=gaps.__getitem__)
    lo = corners[(kmax + 1) % 4] - _COVER_EPS
    hi = corners[kmax] + _COVER_EPS
    if lo <= hi:
        return lat0, lat1, [(lo, hi)]
    # arc wraps through the +-180 seam -> two plain intervals
    return lat0, lat1, [(-180.0 - _COVER_EPS, hi), (lo, 180.0 + _COVER_EPS)]


def _arcs_relate(arcs, xmin, xmax):
    """-1 disjoint / 0 partial / 1 lon-contained for query [xmin,xmax]."""
    if arcs is None:
        return 0
    hit = any(not (a1 < xmin or a0 > xmax) for a0, a1 in arcs)
    if not hit:
        return -1
    inside = all(xmin <= a0 and a1 <= xmax for a0, a1 in arcs)
    return 1 if inside else 0


def s2_cover_ranges(
    bbox: tuple[float, float, float, float],
    max_level: int,
    max_cells: int = 256,
) -> list[tuple[int, int]]:
    """Cell-id ranges covering a lon/lat bbox — the driver-side BFS
    cover planner (the Z2 `cover.py` analog on the sphere).

    Conservative by construction: a cell is pruned only when its
    interval-arithmetic outer bounds are disjoint from the bbox, so
    the union of ranges is a superset of the region and an exact
    refine downstream loses nothing.  Cells FULLY inside the bbox
    emit their whole subtree range without descending (mixed-level
    covering — the trailing-bit layout makes every ancestor range
    contiguous).  Descent stops at `max_level` or when the frontier
    would exceed `max_cells` (budget degrade to coarser cells, the
    geom_data.py discipline).  Adjacent/overlapping ranges merge, so
    the scan predicate is a few BETWEENs, not max_cells of them.
    IDL note: callers split antimeridian boxes first (planner.scan
    convention); this function requires xmin <= xmax."""
    xmin, ymin, xmax, ymax = bbox
    if xmin > xmax:
        raise ValueError("IDL boxes must be split by the caller (xmin > xmax)")
    out: list[tuple[int, int]] = []

    def emit(face: int, level: int, i: int, j: int) -> None:
        cell = int(
            cell_from_face_ij_np(
                np.array([face]), np.array([i]), np.array([j]), level
            )[0]
        )
        out.append(s2_range_np(cell, level))

    frontier: list[tuple[int, int, int, int]] = [
        (f, 0, 0, 0) for f in range(6)
    ]
    while frontier:
        descend: list[tuple[int, int, int, int]] = []
        for face, level, i, j in frontier:
            lat0, lat1, arcs = _cell_lonlat_bounds(face, level, i, j)
            if lat1 < ymin or lat0 > ymax:
                continue
            lon_rel = _arcs_relate(arcs, xmin, xmax)
            if lon_rel < 0:
                continue
            contained = lon_rel == 1 and ymin <= lat0 and lat1 <= ymax
            if contained or level >= max_level:
                emit(face, level, i, j)
            else:
                descend.append((face, level, i, j))
        if len(out) + 4 * len(descend) > max_cells:
            # budget: keep these cells coarse instead of subdividing
            for face, level, i, j in descend:
                emit(face, level, i, j)
            break
        frontier = [
            (face, level + 1, 2 * i + di, 2 * j + dj)
            for face, level, i, j in descend
            for di in (0, 1)
            for dj in (0, 1)
        ]
    out.sort()
    merged: list[tuple[int, int]] = []
    for lo, hi in out:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    return merged


def s2_bbox_scan(
    df,
    lon: Column,
    lat: Column,
    bbox: tuple[float, float, float, float],
    level: int,
    cell_col: str | None = None,
    max_cells: int = 256,
):
    """BBox scan through the S2 index: cover the box with cell-id
    ranges (driver BFS above), filter with OR-of-BETWEENs on the
    cell column, then refine with the exact lon/lat predicate.

    With a STORED `cell_col` (the 10^12-row layout: cells written at
    ingest like docs.write_docs_table's z-cells), the ranges are
    decomposable predicates that push down to parquet row-group
    min/max stats.  With `cell_col=None` the cell is derived on the
    fly, and the naive form of the SAME predicate is a double trap:
    optimizer alias substitution inlines the encode expression once
    per cell reference (R BETWEENs reference it 2R times — observed
    driver heap death at ~114 ranges), and routing the ranges through
    an `exists()` HOF instead substitutes the encode into the lambda
    BODY, re-running the interpreted Hilbert fold once per range per
    row (observed 25x wall blowup).  The derived path therefore
    let-binds the cell behind a Generate barrier (explode of a
    1-element array — CollapseProject cannot merge through Generate,
    the dedup.py idiom), after which the BETWEENs reference a plain
    attribute: the encode runs exactly once per row and the filter
    stays whole-stage codegen."""
    xmin, ymin, xmax, ymax = bbox
    ranges = s2_cover_ranges(bbox, level, max_cells)
    refine = lon.between(F.lit(xmin), F.lit(xmax)) & lat.between(
        F.lit(ymin), F.lit(ymax)
    )
    if not ranges:
        return df.where(F.lit(False))

    def or_between(col: Column) -> Column:
        cond = None
        for lo, hi in ranges:
            c = col.between(F.lit(lo), F.lit(hi))
            cond = c if cond is None else (cond | c)
        return cond

    if cell_col is not None:
        return df.where(or_between(F.col(cell_col))).where(refine)
    cols = df.columns
    barr = with_s2_cell(df, lon, lat, level, out="__scan_cell").select(
        *cols,
        F.explode(F.array(F.col("__scan_cell"))).alias("__s2_cell_b"),
    )
    return (
        barr.where(or_between(F.col("__s2_cell_b")))
        .where(refine)
        .drop("__s2_cell_b")
    )


# ---------------------------------------------------------------------------
# polygon polyfill (mixed-level region cover for spatial joins)
# ---------------------------------------------------------------------------


def _cell_lonlat_bounds_batch(face, level, i, j):
    """Vectorized `_cell_lonlat_bounds` over F cells at one level.

    Returns (lat0, lat1, arcs) with arcs shaped (F, 2, 2) — up to two
    [lo, hi] longitude intervals per cell, NaN-padded when the span
    does not wrap the +-180 seam; pole-axis cells get one full
    (-180, 180) arc (the scalar form's `None`).  Same interval
    arithmetic on the linear face frame, so the outer box can only be
    too WIDE and a disjointness prune stays safe."""
    face = np.asarray(face, dtype=np.int64)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    n = float(1 << level)
    u0 = uv_from_st_np(i / n)
    u1 = uv_from_st_np((i + 1) / n)
    v0 = uv_from_st_np(j / n)
    v1 = uv_from_st_np((j + 1) / n)
    m_ = len(face)
    x0 = np.empty(m_)
    x1 = np.empty(m_)
    y0 = np.empty(m_)
    y1 = np.empty(m_)
    z0 = np.empty(m_)
    z1 = np.empty(m_)
    for f in range(6):
        sel = face == f
        if not sel.any():
            continue
        for (lo_a, hi_a), desc in zip(
            ((x0, x1), (y0, y1), (z0, z1)), _FACE_FRAME[f]
        ):
            kind, sgn = desc
            if kind == "c":
                lo_a[sel] = sgn
                hi_a[sel] = sgn
            else:
                a, b = (u0, u1) if kind == "u" else (v0, v1)
                if sgn > 0:
                    lo_a[sel] = a[sel]
                    hi_a[sel] = b[sel]
                else:
                    lo_a[sel] = -b[sel]
                    hi_a[sel] = -a[sel]
    ax0 = np.where((x0 <= 0.0) & (x1 >= 0.0), 0.0, np.minimum(np.abs(x0), np.abs(x1)))
    ax1 = np.maximum(np.abs(x0), np.abs(x1))
    ay0 = np.where((y0 <= 0.0) & (y1 >= 0.0), 0.0, np.minimum(np.abs(y0), np.abs(y1)))
    ay1 = np.maximum(np.abs(y0), np.abs(y1))
    rho0 = np.hypot(ax0, ay0)
    rho1 = np.hypot(ax1, ay1)
    # lat monotone: increasing in z, decreasing in rho
    lat0 = np.degrees(np.arctan2(z0, np.where(z0 >= 0.0, rho1, rho0))) - _COVER_EPS
    lat1 = np.degrees(np.arctan2(z1, np.where(z1 >= 0.0, rho0, rho1))) + _COVER_EPS
    pole = (x0 <= 0.0) & (x1 >= 0.0) & (y0 <= 0.0) & (y1 >= 0.0)
    # convex (x,y) rect not containing the origin -> angle extremes at
    # corners, arc span < 180 deg; minimal arc containing all corners
    cx = np.stack([x0, x0, x1, x1], axis=1)
    cy = np.stack([y0, y1, y0, y1], axis=1)
    ang = np.degrees(np.arctan2(cy, cx))
    ang.sort(axis=1)
    gaps = (np.roll(ang, -1, axis=1) - ang) % 360.0
    kmax = gaps.argmax(axis=1)
    rows = np.arange(m_)
    hi = ang[rows, kmax] + _COVER_EPS
    lo = ang[rows, (kmax + 1) % 4] - _COVER_EPS
    arcs = np.full((m_, 2, 2), np.nan)
    one = ~pole & (lo <= hi)
    arcs[one, 0, 0] = lo[one]
    arcs[one, 0, 1] = hi[one]
    wrap = ~pole & (lo > hi)  # arc wraps through the +-180 seam
    arcs[wrap, 0, 0] = -180.0 - _COVER_EPS
    arcs[wrap, 0, 1] = hi[wrap]
    arcs[wrap, 1, 0] = lo[wrap]
    arcs[wrap, 1, 1] = 180.0 + _COVER_EPS
    arcs[pole, 0, 0] = -180.0
    arcs[pole, 0, 1] = 180.0
    return lat0, lat1, arcs


def _box_poly_relate_batch(members, verts, segs, xmin, ymin, xmax, ymax):
    """-1 disjoint / 0 partial / 1 fully-inside, vectorized over B
    axis-aligned boxes against one polygon (member list + flattened
    vertex/segment arrays).

    Decomposition per box (the geom_intersects convention — vertex
    containment + proper edge crossings), with the box's 4 corners
    tested member-OR (the contains_geom_col convention):
      * no corner inside, no polygon vertex in the box, no crossing
        -> disjoint (a polygon containing the box would put all
        corners inside; a box containing the polygon would put
        vertices in the box);
      * all corners inside AND no vertex in box AND no crossing ->
        the box (holes included — a hole reaching into the box would
        put its vertices inside or cross the box edges) lies in the
        polygon interior;
      * anything else -> partial.
    Tangencies that are neither proper crossings nor vertex hits are
    degenerate at the callers' epsilon-padded bounds and resolve to
    partial-or-disjoint, never to a wrong `interior`.

    Work is chunked so the (boxes x segments) crossing matrix stays
    bounded regardless of polygon complexity."""
    from geomesa_spark.functions import geometry as G

    xmin = np.asarray(xmin, dtype=np.float64)
    ymin = np.asarray(ymin, dtype=np.float64)
    xmax = np.asarray(xmax, dtype=np.float64)
    ymax = np.asarray(ymax, dtype=np.float64)
    b_ = len(xmin)
    rel = np.zeros(b_, dtype=np.int64)
    width = max(len(segs), len(verts), 1)
    chunk = max(1, int(2_000_000 / width))
    sx0, sy0, sx1, sy1 = (segs[:, k][None, None, :] for k in range(4))
    vx = verts[None, :, 0]
    vy = verts[None, :, 1]
    for s in range(0, b_, chunk):
        e = min(b_, s + chunk)
        cxm, cym, cxM, cyM = xmin[s:e], ymin[s:e], xmax[s:e], ymax[s:e]
        bx = np.stack([cxm, cxM, cxM, cxm], axis=1)
        by = np.stack([cym, cym, cyM, cyM], axis=1)
        corners_in = np.zeros(bx.shape, dtype=bool)
        for m in members:
            corners_in |= G.contains(m, bx.ravel(), by.ravel()).reshape(bx.shape)
        vert_in = (
            (vx >= cxm[:, None])
            & (vx <= cxM[:, None])
            & (vy >= cym[:, None])
            & (vy <= cyM[:, None])
        ).any(axis=1)
        # proper crossings: 4 box edges (B,4,1) x polygon segs (1,1,S)
        ex0 = np.stack([cxm, cxM, cxM, cxm], axis=1)[..., None]
        ey0 = np.stack([cym, cym, cyM, cyM], axis=1)[..., None]
        ex1 = np.stack([cxM, cxM, cxm, cxm], axis=1)[..., None]
        ey1 = np.stack([cym, cyM, cyM, cym], axis=1)[..., None]
        dx = ex1 - ex0
        dy = ey1 - ey0
        d1 = dx * (sy0 - ey0) - dy * (sx0 - ex0)
        d2 = dx * (sy1 - ey0) - dy * (sx1 - ex0)
        d3 = (sx1 - sx0) * (ey0 - sy0) - (sy1 - sy0) * (ex0 - sx0)
        d4 = (sx1 - sx0) * (ey1 - sy0) - (sy1 - sy0) * (ex1 - sx0)
        crossing = (((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))).any(
            axis=(1, 2)
        )
        clean = ~vert_in & ~crossing
        r = np.zeros(e - s, dtype=np.int64)
        r[corners_in.all(axis=1) & clean] = 1
        r[~corners_in.any(axis=1) & clean] = -1
        rel[s:e] = r
    return rel


def s2_polyfill(
    geom,
    max_level: int,
    max_cells: int = 4096,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Mixed-level S2 cover of a polygon: (cells, levels, interior).

    The spherical analog of plans/cover.polyfill_detail (reference:
    GeohashUtils.scala:779-794 decomposition) as a level-synchronous
    BFS from the six face cells, every step vectorized over the whole
    frontier (numpy interval bounds + batched box/polygon relates —
    the per-cell Python form measured 2.5 s for three continental
    polygons; this one is ~30x faster, and the cover is driver-side
    work on the broadcast-join path, so it bounds job setup latency):

    * a cell whose conservative lon/lat bounds (interval arithmetic
      on the linear face frame) are DISJOINT from the polygon is
      pruned — safe, the bounds only over-cover;
    * a cell whose bounds lie fully INSIDE the polygon is emitted at
      its own (coarse) level with interior=True — joins skip the
      exact refine for points in such cells (the covering-index fast
      path), and no descent is paid for the polygon's interior;
    * boundary cells descend until `max_level`, or until the budget
      `max_cells` would be exceeded, at which point the remaining
      frontier is emitted coarse with interior=False (budget degrade
      — the refine absorbs the looser cover, geom_data.py
      discipline).

    `geom` must be IDL-normalized (G.normalize_idl) — every member
    then has xmin <= xmax, and a cell's seam-wrapping lon arcs are
    tested piecewise.  MULTIPOLYGON members are tested member-OR
    (the contains_geom_col convention); layers with OVERLAPPING
    members must be pre-dissolved for the downstream flattened-edge
    refine, matching poly_edges_df's documented contract."""
    from geomesa_spark.functions import geometry as G
    from geomesa_spark.functions import geometry_sql as GS

    members = GS.geom_members(geom)
    verts = G._all_vertices(geom)
    segs = G._all_segments(geom)
    gxmin, gymin, gxmax, gymax = geom.bounds

    batches: list[tuple[np.ndarray, np.ndarray, np.ndarray, int, np.ndarray]] = []
    emitted = 0

    def emit(face, i, j, level, interior):
        nonlocal emitted
        if len(face):
            batches.append((face, i, j, level, np.asarray(interior, dtype=bool)))
            emitted += len(face)

    face = np.arange(6, dtype=np.int64)
    i = np.zeros(6, dtype=np.int64)
    j = np.zeros(6, dtype=np.int64)
    level = 0
    while len(face):
        lat0, lat1, arcs = _cell_lonlat_bounds_batch(face, level, i, j)
        f_ = len(face)
        lat_dis = (lat1 < gymin) | (lat0 > gymax)
        # per-piece relate: -2 absent, -1 disjoint, 0 partial, 1 inside
        piece_rel = np.full((f_, 2), -2, dtype=np.int64)
        for p in range(2):
            a0 = arcs[:, p, 0]
            a1 = arcs[:, p, 1]
            present = ~np.isnan(a0)
            pr = np.full(f_, -2, dtype=np.int64)
            # bbox-disjoint piece is exact-disjoint
            dis = present & ((a1 < gxmin) | (a0 > gxmax))
            pr[dis] = -1
            todo = present & ~dis & ~lat_dis
            if todo.any():
                idx = np.nonzero(todo)[0]
                pr[idx] = _box_poly_relate_batch(
                    members, verts, segs, a0[idx], lat0[idx], a1[idx], lat1[idx]
                )
            piece_rel[:, p] = pr
        present = piece_rel != -2
        n_present = present.sum(axis=1)
        rel = np.zeros(f_, dtype=np.int64)
        rel[(piece_rel == -1).sum(axis=1) == n_present] = -1
        # the pieces jointly cover the cell: interior only if EVERY
        # piece is inside (a disjoint piece breaks containment)
        rel[(piece_rel == 1).sum(axis=1) == n_present] = 1
        rel[lat_dis] = -1
        interior = rel == 1
        boundary = rel == 0
        if level >= max_level:
            keep = interior | boundary
            emit(face[keep], i[keep], j[keep], level, interior[keep])
            break
        emit(face[interior], i[interior], j[interior], level,
             np.ones(int(interior.sum()), dtype=bool))
        nd = int(boundary.sum())
        if emitted + 4 * nd > max_cells:
            emit(face[boundary], i[boundary], j[boundary], level,
                 np.zeros(nd, dtype=bool))
            break
        face = np.repeat(face[boundary], 4)
        di = np.tile(np.array([0, 0, 1, 1], dtype=np.int64), nd)
        dj = np.tile(np.array([0, 1, 0, 1], dtype=np.int64), nd)
        i = np.repeat(i[boundary], 4) * 2 + di
        j = np.repeat(j[boundary], 4) * 2 + dj
        level += 1

    if not batches:
        return (
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=bool),
        )
    cells = np.concatenate(
        [cell_from_face_ij_np(f, ii, jj, lv) for f, ii, jj, lv, _ in batches]
    )
    levels = np.concatenate(
        [np.full(len(f), lv, dtype=np.int64) for f, _, _, lv, _ in batches]
    )
    interiors = np.concatenate([it for _, _, _, _, it in batches])
    return cells, levels, interiors
