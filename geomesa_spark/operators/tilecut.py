"""Vector-tile cutting: clip polygon layers into web-mercator XYZ
tiles — the MVT-shaped pipeline (project → tile cover →
Sutherland–Hodgman clip → integer tile-local quantization) that
turns the engine's tile addressing (`functions/tiles.py`,
`analytics.tile_pyramid`) into per-tile GEOMETRY payloads, the way a
vector-tile server (tippecanoe / GeoServer VectorTileOutputFormat —
the reference's geoserver plugin surface serves the raster analog,
geomesa-raster's tile responses) cuts a layer for z/x/y delivery.

Shape per stage (all JVM higher-order functions — no Python, no
Arrow round trip, the `geom_table_native` contract):

1. parse POLYGON WKT to rings and project every vertex to mercator
   unit space (lon linear; lat through the shared `tiles.py`
   stretch, same constants) behind ONE Generate barrier;
2. cover: each polygon explodes to the tile range of its projected
   bbox (two `sequence` explodes) — bounded by ``max_tiles_per_geom``
   (loud `raise_error`, the DATA_CELL_BUDGET convention: a
   continent-sized polygon at z=14 is a caller error, cut the parent
   zoom and descend instead);
3. clip: each ring against the tile's dyadic box (tx/2^z bounds are
   EXACT doubles) — four Sutherland–Hodgman half-plane passes, each
   one flat `zip_with` + `flatten` sweep over the ring (open form,
   WKT closing vertex stripped); intersections are single IEEE
   expressions, so the python oracle reproduces them bit-for-bit;
4. quantize: tile-local integer coordinates in the ``EXTENT``
   (4096) cell extent that `sources.mvt` declares, `floor(v + 0.5)`
   rounding (the embed_quantize convention).

Rings survive only with >= 3 vertices after clipping; a tile row
survives only with >= 1 surviving ring (interior tiles of a large
polygon keep the full-extent box ring the clip produces).  Holes
clip independently of their shells (the standard cutter
simplification — renderers pair them by even-odd winding).

Scale: fan-out is Σ per-geometry covered tiles (budget-bounded), the
clip is per-row compute with no shuffle; `repartition(tx, ty)` the
output for locality when writing a tile pyramid.  At 10^12 docs the
tile id is the natural bucket/sort key (the pip_bucketed layout).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geomesa_spark.functions.tiles import (
    DEG2RAD, MAX_MERC_LAT, PI, PI_4,
)
from geomesa_spark.sources.mvt import EXTENT

__all__ = [
    "tile_cut", "tile_cut_lines", "tile_cut_points",
    "enforce_winding", "clip_ring_box", "mercator_xy",
]

_EMPTY_RING = "array<struct<x:double,y:double>>"


def mercator_xy(lon: Column, lat: Column) -> tuple[Column, Column]:
    """Web-mercator unit coordinates in [0, 1] — the same expression
    text as `tiles.tile_sql` before the tile floor, so a point's
    tile via `tile_cols` and via `floor(mx * 2^z)` agree."""
    clat = F.greatest(
        F.lit(-MAX_MERC_LAT), F.least(F.lit(MAX_MERC_LAT), lat)
    )
    mx = (lon + F.lit(180.0)) / F.lit(360.0)
    my = (
        F.lit(1.0)
        - F.log(F.tan(F.lit(PI_4) + (clat * F.lit(DEG2RAD)) / F.lit(2.0)))
        / F.lit(PI)
    ) / F.lit(2.0)
    return mx, my


def _half_plane(
    pts: Column, axis: str, bound: Column | float, keep_le: bool
) -> Column:
    """One Sutherland–Hodgman pass of an OPEN ring against
    ``axis <= bound`` (or >=): emits, per directed edge (prev → cur),
    the crossing intersection and/or cur by the classic 4-case rule,
    as one linear zip_with sweep (each vertex read once)."""
    n = F.size(pts)
    bnd = bound if isinstance(bound, Column) else F.lit(float(bound))

    def coord(p):
        return p["x"] if axis == "x" else p["y"]

    def inside(p):
        return coord(p) <= bnd if keep_le else coord(p) >= bnd

    def inter(a, b):
        t = (bnd - coord(a)) / (coord(b) - coord(a))
        if axis == "x":
            ix = bnd
            iy = a["y"] + t * (b["y"] - a["y"])
        else:
            ix = a["x"] + t * (b["x"] - a["x"])
            iy = bnd
        return F.struct(ix.alias("x"), iy.alias("y"))

    def emit(prv, cur):
        c_in, p_in = inside(cur), inside(prv)
        return (
            F.when(c_in & p_in, F.array(cur))
            .when(c_in & ~p_in, F.array(inter(prv, cur), cur))
            .when(~c_in & p_in, F.array(inter(prv, cur)))
            .otherwise(F.array().cast(_EMPTY_RING))
        )

    # one flat pass: pair every vertex with its predecessor (rotate
    # by slicing) and flatten the per-edge emissions — measured ~3x
    # faster than the aggregate-fold form (no O(ring²) accumulator
    # copies, each vertex read once; interpreted lambdas dominate
    # either way, so fewer evaluations win)
    rotated = F.concat(F.slice(pts, n, 1), F.slice(pts, 1, n - 1))
    empty = F.array().cast(_EMPTY_RING)
    return F.when(n < 3, empty).otherwise(
        F.flatten(F.zip_with(rotated, pts, emit))
    )


def clip_ring_box(
    pts: Column,
    xmin: Column | float,
    ymin: Column | float,
    xmax: Column | float,
    ymax: Column | float,
) -> Column:
    """Clip an OPEN ring (array<struct<x,y>>) to an axis box: four
    half-plane passes (left, right, bottom, top — fixed order, so
    output vertices are a deterministic IEEE expression of the
    input).  Returns the clipped open ring (possibly < 3 points —
    degenerate; callers filter)."""
    out = pts
    for axis, bound, keep_le in (
        ("x", xmin, False),
        ("x", xmax, True),
        ("y", ymin, False),
        ("y", ymax, True),
    ):
        out = _half_plane(out, axis, bound, keep_le)
    return out


def tile_cut(
    df: DataFrame,
    zoom: int,
    wkt_col: str = "geom_wkt",
    id_col: str = "geom_id",
    *,
    max_tiles_per_geom: int = 4096,
) -> DataFrame:
    """Cut a POLYGON layer into z/x/y vector tiles (module
    docstring).  Returns one row per (geometry, tile, ring):

    (id_col, z, tx, ty, ring_i, n_pts,
     pts: array<struct<px int, py int>>)

    where (px, py) are tile-local integer coordinates in
    ``[0, EXTENT]`` (y grows south, the tile/MVT convention) and
    ring_i is the source ring index (0 = shell, >0 = holes).
    """
    if not (0 <= zoom <= 30):
        raise ValueError(f"zoom must be in [0, 30], got {zoom}")
    n = 1 << zoom
    s = F.trim(F.col(wkt_col))
    kind = F.upper(F.regexp_extract(s, r"^\s*([A-Za-z]+)", 1))
    body = F.regexp_extract(s, r"(?s)\((.*)\)", 1)
    rings = F.split(
        F.regexp_replace(body, r"^\s*\(|\)\s*$", ""), r"\)\s*,\s*\("
    )

    def ring_pts(r):
        def pt(p):
            lon = F.element_at(F.split(F.trim(p), r"\s+"), 1).cast("double")
            lat = F.element_at(F.split(F.trim(p), r"\s+"), 2).cast("double")
            # loud-error convention (matches the kind and tile-budget
            # checks): under non-ANSI sessions an unparseable
            # coordinate casts to NULL, and NULL would slide through
            # mercator's null-skipping least/greatest lat clamp into
            # a valid-looking y, poison the bbox via clampi, and
            # silently DROP or misplace the geometry (ANSI sessions
            # raise at the cast itself)
            bad = lon.isNull() | lat.isNull()
            mx, my = mercator_xy(lon, lat)
            return F.struct(
                F.when(
                    bad,
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "tile_cut: NULL vertex after WKT parse "
                                "(unparseable coordinate) in "
                            ),
                            F.trim(p),
                        )
                    ),
                ).otherwise(mx).alias("x"),
                my.alias("y"),
            )

        pts = F.transform(F.split(F.trim(r), r"\s*,\s*"), pt)
        # strip the WKT closing duplicate -> open ring
        m = F.size(pts)
        closed = (m > 1) & (
            (F.element_at(pts, 1)["x"] == F.element_at(pts, m)["x"])
            & (F.element_at(pts, 1)["y"] == F.element_at(pts, m)["y"])
        )
        return F.when(closed, F.slice(pts, 1, m - 1)).otherwise(pts)

    ringpts = F.when(
        kind == "POLYGON", F.transform(rings, ring_pts)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("tile_cut supports POLYGON WKT only, got "), kind
            )
        )
    )
    allpts = F.flatten(ringpts)
    xs = F.transform(allpts, lambda p: p["x"])
    ys = F.transform(allpts, lambda p: p["y"])
    fn = float(n)
    clampi = lambda c: F.greatest(  # noqa: E731
        F.lit(0), F.least(F.lit(n - 1), c.cast("long"))
    )
    g = F.struct(
        ringpts.alias("rings"),
        clampi(F.floor(F.array_min(xs) * fn)).alias("tx0"),
        clampi(F.floor(F.array_max(xs) * fn)).alias("tx1"),
        clampi(F.floor(F.array_min(ys) * fn)).alias("ty0"),
        clampi(F.floor(F.array_max(ys) * fn)).alias("ty1"),
    )
    parsed = df.select(
        F.col(id_col), F.explode(F.array(g)).alias("_g")
    ).select(id_col, "_g.*")
    n_tiles = (F.col("tx1") - F.col("tx0") + 1) * (
        F.col("ty1") - F.col("ty0") + 1
    )
    # the budget check rides the exploded range START — a standalone
    # checked column would be pruned away (and with it the raise)
    guard_tx0 = F.when(
        n_tiles <= max_tiles_per_geom, F.col("tx0")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"tile_cut: geometry covers more than "
                    f"{max_tiles_per_geom} tiles at z={zoom} "
                    "(cut a parent zoom and descend) — id "
                ),
                F.col(id_col).cast("string"),
            )
        ).cast("long")
    )
    tiled = parsed.select(
        id_col,
        "rings",
        F.explode(F.sequence(guard_tx0, F.col("tx1"))).alias("tx"),
        "ty0", "ty1",
    ).select(
        id_col,
        "rings",
        "tx",
        F.explode(F.sequence("ty0", "ty1")).alias("ty"),
    )
    # dyadic tile bounds: tx * 2^-z is exact in doubles
    inv = 1.0 / fn
    bx0 = F.col("tx").cast("double") * F.lit(inv)
    by0 = F.col("ty").cast("double") * F.lit(inv)
    bx1 = (F.col("tx") + 1).cast("double") * F.lit(inv)
    by1 = (F.col("ty") + 1).cast("double") * F.lit(inv)
    ext = float(EXTENT)

    # one ring per row, then each half-plane pass lands behind its
    # own explode(array(...)) Generate barrier: each pass references
    # its input ~4x, so letting CollapseProject inline the four
    # passes multiplies the expression tree ~4^4 per quant reference
    # — the un-barriered form OOMed the driver during ANALYSIS
    cur = tiled.select(
        id_col, "tx", "ty",
        F.posexplode("rings").alias("ring_i", "_r"),
    )
    for axis, bound, keep_le in (
        ("x", bx0, False),
        ("x", bx1, True),
        ("y", by0, False),
        ("y", by1, True),
    ):
        cur = cur.select(
            id_col, "tx", "ty", "ring_i",
            F.explode(
                F.array(_half_plane(F.col("_r"), axis, bound, keep_le))
            ).alias("_r"),
        )

    def quant(v, b0):
        return F.floor((v - b0) * F.lit(fn) * F.lit(ext) + F.lit(0.5)) \
            .cast("int")

    clipped = cur.select(
        id_col,
        "tx",
        "ty",
        "ring_i",
        F.transform(
            F.col("_r"),
            lambda p: F.struct(
                quant(p["x"], bx0).alias("px"),
                quant(p["y"], by0).alias("py"),
            ),
        ).alias("pts"),
    )
    return clipped.where(F.size("pts") >= 3).select(
        F.col(id_col),
        F.lit(zoom).cast("int").alias("z"),
        F.col("tx"),
        F.col("ty"),
        F.col("ring_i").cast("int").alias("ring_i"),
        F.size("pts").alias("n_pts"),
        "pts",
    )


def _lb_clip(x0, y0, x1, y1, bx0, by0, bx1, by1):
    """Liang–Barsky parametric clip of one segment against a box:
    returns (keep, t0, t1) Columns — keep=false for no overlap
    (parallel-outside or t0 >= t1; boundary-riding segments with
    p=0, q=0 survive).  Fixed constraint order (left, right, bottom,
    top), each a single IEEE division — python-mirrorable."""
    dx, dy = x1 - x0, y1 - y0
    t0, t1 = F.lit(0.0), F.lit(1.0)
    reject = F.lit(False)
    for p, q in (
        (-dx, x0 - bx0),
        (dx, bx1 - x0),
        (-dy, y0 - by0),
        (dy, by1 - y0),
    ):
        r = q / p
        reject = reject | ((p == 0) & (q < 0))
        t0 = F.when(p < 0, F.greatest(t0, r)).otherwise(t0)
        t1 = F.when(p > 0, F.least(t1, r)).otherwise(t1)
    keep = ~reject & (t0 < t1)
    return keep, t0, t1


def tile_cut_lines(
    df: DataFrame,
    zoom: int,
    wkt_col: str = "geom_wkt",
    id_col: str = "geom_id",
    *,
    max_tiles_per_segment: int = 4096,
) -> DataFrame:
    """Cut a LINESTRING layer (tracks, roads) into z/x/y vector
    tiles — the polyline half of the MVT cutter (`tile_cut` is the
    polygon half): per-SEGMENT Liang–Barsky clip against each
    bbox-covered tile, then consecutive clipped segments whose
    endpoints coincide exactly re-chain into maximal parts (a track
    leaving and re-entering a tile yields separate parts, the MVT
    MULTILINESTRING model).

    Chaining is exact by construction: a segment fully inside the
    tile enters at t0=0, so its entry point is the SAME double as
    the previous segment's t1=1 exit — no tolerance needed.

    Scale: fan-out is per-segment bbox tiles (usually 1-2; a single
    segment spanning more than ``max_tiles_per_segment`` raises),
    one shuffle on (id, tile) to re-chain, per-tile fold bounded by
    that tile's own segments.  All JVM expressions — no Python.

    Returns (id_col, z, tx, ty, part_i, n_pts,
    pts: array<struct<px int, py int>>) with tile-local integer
    coordinates in [0, EXTENT]."""
    if not (0 <= zoom <= 30):
        raise ValueError(f"zoom must be in [0, 30], got {zoom}")
    n = 1 << zoom
    fn = float(n)
    s = F.trim(F.col(wkt_col))
    kind = F.upper(F.regexp_extract(s, r"^\s*([A-Za-z]+)", 1))
    body = F.regexp_extract(s, r"(?s)\((.*)\)", 1)

    def pt(p):
        lon = F.element_at(F.split(F.trim(p), r"\s+"), 1).cast("double")
        lat = F.element_at(F.split(F.trim(p), r"\s+"), 2).cast("double")
        mx, my = mercator_xy(lon, lat)
        return F.struct(mx.alias("x"), my.alias("y"))

    pts = F.when(
        kind == "LINESTRING",
        F.transform(F.split(F.trim(body), r"\s*,\s*"), pt),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("tile_cut_lines supports LINESTRING WKT only,"
                      " got "),
                kind,
            )
        )
    )
    m = F.size(pts)
    segs = F.zip_with(
        F.slice(pts, 1, m - 1),
        F.slice(pts, 2, m - 1),
        lambda a, b: F.struct(
            a["x"].alias("x0"), a["y"].alias("y0"),
            b["x"].alias("x1"), b["y"].alias("y1"),
        ),
    )
    seg_rows = df.select(
        F.col(id_col),
        # Generate barrier: the parse executes once per row
        F.explode(F.array(segs)).alias("_segs"),
    ).select(
        F.col(id_col),
        F.posexplode("_segs").alias("seg_i", "_s"),
    ).select(
        id_col, "seg_i",
        F.col("_s.x0").alias("x0"), F.col("_s.y0").alias("y0"),
        F.col("_s.x1").alias("x1"), F.col("_s.y1").alias("y1"),
    )
    clampi = lambda c: F.greatest(  # noqa: E731
        F.lit(0), F.least(F.lit(n - 1), c.cast("long"))
    )
    tx0 = clampi(F.floor(F.least("x0", "x1") * fn))
    tx1 = clampi(F.floor(F.greatest("x0", "x1") * fn))
    ty0 = clampi(F.floor(F.least("y0", "y1") * fn))
    ty1 = clampi(F.floor(F.greatest("y0", "y1") * fn))
    n_tiles = (tx1 - tx0 + 1) * (ty1 - ty0 + 1)
    guard_tx0 = F.when(n_tiles <= max_tiles_per_segment, tx0).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"tile_cut_lines: one segment covers more than "
                    f"{max_tiles_per_segment} tiles at z={zoom} — id "
                ),
                F.col(id_col).cast("string"),
            )
        ).cast("long")
    )
    tiled = seg_rows.select(
        id_col, "seg_i", "x0", "y0", "x1", "y1",
        F.explode(F.sequence(guard_tx0, tx1)).alias("tx"),
        ty0.alias("_ty0"), ty1.alias("_ty1"),
    ).select(
        id_col, "seg_i", "x0", "y0", "x1", "y1", "tx",
        F.explode(F.sequence("_ty0", "_ty1")).alias("ty"),
    )
    inv = 1.0 / fn
    bx0 = F.col("tx").cast("double") * F.lit(inv)
    by0 = F.col("ty").cast("double") * F.lit(inv)
    bx1 = (F.col("tx") + 1).cast("double") * F.lit(inv)
    by1 = (F.col("ty") + 1).cast("double") * F.lit(inv)
    keep, t0, t1 = _lb_clip(
        F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"),
        bx0, by0, bx1, by1,
    )
    clipped = tiled.select(
        id_col, "seg_i", "tx", "ty",
        F.explode(
            F.array(
                F.struct(
                    keep.alias("k"),
                    (F.col("x0") + t0 * (F.col("x1") - F.col("x0")))
                    .alias("cx0"),
                    (F.col("y0") + t0 * (F.col("y1") - F.col("y0")))
                    .alias("cy0"),
                    (F.col("x0") + t1 * (F.col("x1") - F.col("x0")))
                    .alias("cx1"),
                    (F.col("y0") + t1 * (F.col("y1") - F.col("y0")))
                    .alias("cy1"),
                )
            )
        ).alias("_c"),
    ).where(F.col("_c.k")).select(
        id_col, "seg_i", "tx", "ty",
        F.col("_c.cx0").alias("cx0"), F.col("_c.cy0").alias("cy0"),
        F.col("_c.cx1").alias("cx1"), F.col("_c.cy1").alias("cy1"),
    )
    # re-chain: per (id, tile), fold segments in order; extend the
    # open part while indices are consecutive AND the entry point is
    # bit-equal to the previous exit
    segarr = clipped.groupBy(id_col, "tx", "ty").agg(
        F.array_sort(
            F.collect_list(
                F.struct("seg_i", "cx0", "cy0", "cx1", "cy1")
            )
        ).alias("_ss")
    )
    acc_t = (
        "struct<parts:array<array<struct<x:double,y:double>>>,"
        "li:bigint,lx:double,ly:double>"
    )

    def fold(acc, sgm):
        p0 = F.struct(sgm["cx0"].alias("x"), sgm["cy0"].alias("y"))
        p1 = F.struct(sgm["cx1"].alias("x"), sgm["cy1"].alias("y"))
        parts = acc["parts"]
        extend = (
            (acc["li"] == sgm["seg_i"] - 1)
            & (acc["lx"] == sgm["cx0"])
            & (acc["ly"] == sgm["cy0"])
        )
        np_ = F.size(parts)
        extended = F.concat(
            F.slice(parts, 1, np_ - 1),
            F.array(
                F.concat(F.element_at(parts, np_), F.array(p1))
            ),
        )
        opened = F.concat(parts, F.array(F.array(p0, p1)))
        return F.struct(
            F.when(extend, extended).otherwise(opened).alias("parts"),
            sgm["seg_i"].cast("long").alias("li"),
            sgm["cx1"].alias("lx"),
            sgm["cy1"].alias("ly"),
        )

    init = F.struct(
        F.array().cast("array<array<struct<x:double,y:double>>>")
        .alias("parts"),
        F.lit(-10).cast("long").alias("li"),
        F.lit(0.0).alias("lx"),
        F.lit(0.0).alias("ly"),
    ).cast(acc_t)
    parts = segarr.select(
        id_col, "tx", "ty",
        F.explode(
            F.array(F.aggregate(F.col("_ss"), init, fold)["parts"])
        ).alias("_p"),
    ).select(
        id_col, "tx", "ty",
        F.posexplode("_p").alias("part_i", "pts_m"),
    )
    ext = float(EXTENT)

    def quant(v, b0):
        return F.floor((v - b0) * F.lit(fn) * F.lit(ext) + F.lit(0.5)) \
            .cast("int")

    return parts.select(
        F.col(id_col),
        F.lit(zoom).cast("int").alias("z"),
        F.col("tx"),
        F.col("ty"),
        F.col("part_i").cast("int").alias("part_i"),
        F.size("pts_m").alias("n_pts"),
        F.transform(
            F.col("pts_m"),
            lambda p: F.struct(
                quant(p["x"], bx0).alias("px"),
                quant(p["y"], by0).alias("py"),
            ),
        ).alias("pts"),
    )


def enforce_winding(
    df: DataFrame,
    pts_col: str = "pts",
    ring_col: str = "ring_i",
) -> DataFrame:
    """Strict MVT v2 winding for `tile_cut` output: exterior rings
    (ring_i = 0) clockwise on the y-down tile grid, holes
    counter-clockwise.  Screen-CW with y-down is a POSITIVE standard
    shoelace sum, so shells flip when 2A < 0 and holes when 2A > 0
    — the sum is exact int64 (extent² · n products).  One transform
    + conditional `reverse` per row; no shuffle."""
    pts = F.col(pts_col)
    n = F.size(pts)
    idx = F.sequence(F.lit(1), n)
    area2 = F.aggregate(
        idx,
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.element_at(pts, i)["px"].cast("long")
        * F.element_at(pts, F.when(i == n, 1).otherwise(i + 1))["py"]
        - F.element_at(pts, F.when(i == n, 1).otherwise(i + 1))["px"]
        .cast("long")
        * F.element_at(pts, i)["py"],
    )
    want_pos = F.col(ring_col) == 0
    flip = F.when(want_pos, area2 < 0).otherwise(area2 > 0)
    # n < 3 short-circuits BEFORE area2: sequence(1, 0) descends to
    # [1, 0] and element_at(pts, 0) raises — degenerate rings have
    # no winding and pass through untouched
    return df.withColumn(
        pts_col,
        F.when(F.size(pts) < 3, pts)
        .when(flip, F.reverse(pts))
        .otherwise(pts),
    )


def tile_cut_points(
    df: DataFrame,
    zoom: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "geom_id",
) -> DataFrame:
    """The point third of the cutter family: assign each point to
    its tile (same mercator expressions as `tiles.tile_cols`) and
    quantize to tile-local integers — zero fan-out, one narrow
    projection, shuffle-free.  Output matches the cutter contract
    ((id, z, tx, ty, part_i=0, n_pts=1, pts)) so
    `mvt_encode(kind="point")` consumes it directly."""
    if not (0 <= zoom <= 30):
        raise ValueError(f"zoom must be in [0, 30], got {zoom}")
    n = 1 << zoom
    fn = float(n)
    mx, my = mercator_xy(F.col(lon_col), F.col(lat_col))
    clampi = lambda c: F.greatest(  # noqa: E731
        F.lit(0), F.least(F.lit(n - 1), c.cast("long"))
    )
    base = df.select(
        F.col(id_col),
        F.explode(
            F.array(F.struct(mx.alias("x"), my.alias("y")))
        ).alias("_p"),
    ).select(
        id_col,
        F.col("_p.x").alias("_x"),
        F.col("_p.y").alias("_y"),
        clampi(F.floor(F.col("_p.x") * fn)).alias("tx"),
        clampi(F.floor(F.col("_p.y") * fn)).alias("ty"),
    )
    inv = 1.0 / fn
    ext = float(EXTENT)

    def quant(v, t):
        return F.floor(
            (v - t.cast("double") * F.lit(inv)) * F.lit(fn) * F.lit(ext)
            + F.lit(0.5)
        ).cast("int")

    return base.select(
        F.col(id_col),
        F.lit(zoom).cast("int").alias("z"),
        "tx",
        "ty",
        F.lit(0).cast("int").alias("part_i"),
        F.lit(1).cast("int").alias("n_pts"),
        F.array(
            F.struct(
                quant(F.col("_x"), F.col("tx")).alias("px"),
                quant(F.col("_y"), F.col("ty")).alias("py"),
            )
        ).alias("pts"),
    )
