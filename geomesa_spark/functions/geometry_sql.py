"""Exact geometry predicates as pure Spark column expressions.

The refine phase of every spatial operator (the analog of the
reference's server-side JTS evaluation in
KryoLazyFilterTransformIterator.scala:84-94) was originally a
vectorized pandas UDF. Profiling showed the Arrow round-trip stage
anti-scales on high-core executors (task thread + writer thread +
python worker per task ⇒ 3x oversubscription), so the exact
predicates are re-expressed as JVM higher-order-function aggregates
over a per-polygon **edge array** column:

- `contains_col`   — even-odd ray casting: one `aggregate` over
  edges counting upward/downward crossings left of the point. For a
  polygon with holes or a disjoint multipolygon this equals the
  numpy oracle `geometry.contains` (shell-minus-holes / union).
- `dwithin_col`    — min point-to-segment distance via the same
  aggregate (+ containment for polygons).
- `seg_dist2_col`  — scalar point-to-segment distance for operators
  whose join already exposes segment endpoints as columns (tube).

Edge arrays ride a tiny broadcast table (poly_id -> edges), joined
after the coarse cell join — the doc-side rows never leave the JVM
and the whole refine stays inside whole-stage codegen.

Formula parity: crossing test and t-clamped segment distance are
literal transcriptions of geometry._ring_contains / seg_dist2, so
the SQL refine and the numpy oracle agree bit-for-bit away from
geometry boundaries (boundary behavior is tolerance-level in both,
as in JTS).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_spark.functions import geometry as G

EDGE_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("x0", T.DoubleType()),
            T.StructField("y0", T.DoubleType()),
            T.StructField("x1", T.DoubleType()),
            T.StructField("y1", T.DoubleType()),
        ]
    )
)


def geom_edges(geom: G.Geometry) -> list[tuple[float, float, float, float]]:
    """All ring edges of a geometry as (x0,y0,x1,y1) tuples."""
    out = []
    for ring in geom.rings:
        if len(ring) == 1:
            x, y = float(ring[0][0]), float(ring[0][1])
            out.append((x, y, x, y))  # degenerate: distance-to-point
            continue
        seg = np.column_stack([ring[:-1], ring[1:]])  # C-level zip
        out.extend(map(tuple, seg.tolist()))
    return out


def double_sql(v: float) -> str:
    """SQL literal that parses back to exactly the double `v`.

    `repr` is the shortest string that round-trips; the `D` suffix
    keeps it a DOUBLE (an unsuffixed `1.5` is a DECIMAL under ANSI).
    Non-finite values have no literal form and go through a cast."""
    r = repr(float(v))
    return r + "D" if np.isfinite(v) else f"CAST('{r}' AS DOUBLE)"


def edges_lit(geom: G.Geometry) -> Column:
    """Edge array literal for a single geometry, as one SQL expression
    parsed in one `F.expr` call (a Column per value would cost a py4j
    round trip each)."""
    structs = ", ".join(
        "named_struct('x0', {}, 'y0', {}, 'x1', {}, 'y1', {})".format(
            *map(double_sql, e)
        )
        for e in geom_edges(geom)
    )
    return F.expr(f"array({structs})")


def poly_edges_df(
    spark: SparkSession, polys: list[tuple[str, str]]
) -> DataFrame:
    """(poly_id, edges) broadcast-side table from [(id, wkt)].
    IDL-crossing polygons are split into in-range pieces first —
    even-odd over the flattened piece edges equals the union for the
    DISJOINT pieces IDL splitting produces. NOTE: a user-supplied
    MULTIPOLYGON with OVERLAPPING members cancels in the overlap
    under flattened even-odd — pre-dissolve such layers (or scan per
    member); the single-geometry refines (planner.scan, ecql) handle
    overlap via contains_geom_col's member-OR."""
    rows = [
        (pid, geom_edges(G.normalize_idl(G.parse_wkt(wkt)))) for pid, wkt in polys
    ]
    schema = T.StructType(
        [T.StructField("poly_id", T.StringType()), T.StructField("edges", EDGE_SCHEMA)]
    )
    return spark.createDataFrame(rows, schema)


def geom_members(geom: G.Geometry) -> list[G.Geometry]:
    """Per-member sub-geometries of a POLYGON/MULTIPOLYGON (each =
    one shell + its holes); any other kind is its own single member."""
    if geom.kind != "MULTIPOLYGON":
        return [geom]
    starts = list(geom.poly_starts) + [len(geom.rings)]
    return [
        G.Geometry(kind="POLYGON", rings=geom.rings[starts[i]: starts[i + 1]])
        for i in range(len(geom.poly_starts))
    ]


def contains_geom_col(geom: G.Geometry, lon: Column, lat: Column) -> Column:
    """Member-OR even-odd PIP matching geometry.contains: even-odd
    over the FLATTENED edges of a MULTIPOLYGON cancels in regions
    covered by an even number of overlapping members (2 shells -> 2
    crossings -> 'outside'), so each member (shell + holes, where
    even-odd IS correct) evaluates separately and the members OR."""
    preds = [contains_col(edges_lit(m), lon, lat) for m in geom_members(geom)]
    out = preds[0]
    for p in preds[1:]:
        out = out | p
    return out


def contains_col(edges: Column, lon: Column, lat: Column) -> Column:
    """Even-odd point-in-polygon over an edge array (pure JVM).

    Mirrors geometry._ring_contains: crossing iff the edge straddles
    the point's latitude (half-open rule) and the intersection of
    the edge with that latitude lies strictly right of the point.
    Horizontal edges produce NaN intersections and never straddle —
    the comparison is then false, matching numpy.
    """

    def step(acc, e):
        straddles = (e["y0"] > lat) != (e["y1"] > lat)
        xint = e["x0"] + (lat - e["y0"]) * (e["x1"] - e["x0"]) / (e["y1"] - e["y0"])
        return acc + F.when(straddles & (lon < xint), F.lit(1)).otherwise(F.lit(0))

    return F.aggregate(edges, F.lit(0), step) % 2 == 1


def pt_seg_d2_col(px: Column, py: Column, e) -> Column:
    """Squared distance from point (px,py) to one edge struct `e`:
    clamped projection (degenerate zero-length segments use t=0 via
    the len2==0 guard) — the single shared kernel behind
    min_seg_dist2_col and geom_data's segment-distance refines."""
    dx = e["x1"] - e["x0"]
    dy = e["y1"] - e["y0"]
    ln2 = dx * dx + dy * dy
    ln2 = F.when(ln2 == 0.0, F.lit(1.0)).otherwise(ln2)
    t = ((px - e["x0"]) * dx + (py - e["y0"]) * dy) / ln2
    t = F.least(F.lit(1.0), F.greatest(F.lit(0.0), t))
    cx = e["x0"] + t * dx
    cy = e["y0"] + t * dy
    return (px - cx) * (px - cx) + (py - cy) * (py - cy)


def min_seg_dist2_col(edges: Column, lon: Column, lat: Column) -> Column:
    """Min squared distance from (lon,lat) to any edge segment
    (mirrors geometry.seg_dist2)."""
    return F.aggregate(
        edges,
        F.lit(float("inf")),
        lambda acc, e: F.least(acc, pt_seg_d2_col(lon, lat, e)),
    )


def dwithin_col(
    edges: Column, lon: Column, lat: Column, dist_deg: Column, is_polygon: bool = True
) -> Column:
    """True where the point is within dist (degrees) of the geometry
    (geometry.dwithin parity: boundary distance OR containment)."""
    near = min_seg_dist2_col(edges, lon, lat) <= dist_deg * dist_deg
    if is_polygon:
        near = near | contains_col(edges, lon, lat)
    return near


def point_dist2_col(lon: Column, lat: Column, sx: Column, sy: Column) -> Column:
    return (lon - sx) * (lon - sx) + (lat - sy) * (lat - sy)


EARTH_RADIUS_M = 6371008.8  # IUGG mean radius


def haversine_m_col(
    lon1: Column, lat1: Column, lon2: Column, lat2: Column
) -> Column:
    """Great-circle distance in meters as a pure column expression —
    the geodetic path the reference evaluates through GeoTools/JTS
    (e.g. proximity/kNN distances); dwithin-meters rewrites stay in
    the planner (FilterHelper.scala:104-116) for pruning, and this
    exact form refines."""
    rl1 = F.radians(lat1)
    rl2 = F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(rl1) * F.cos(rl2) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))
