"""Exact geometry predicates as Spark SQL text, one text per kernel.

The refine phase of every spatial operator (the analog of the
reference's server-side JTS evaluation in
KryoLazyFilterTransformIterator.scala:84-94) runs as JVM
higher-order functions over a per-polygon **edge array**
(`EDGE_SCHEMA`), never as a Python UDF: a vectorized pandas refine
anti-scaled on high-core executors (task thread + writer thread +
python worker per task => 3x oversubscription).

One-text rule: each kernel below is written exactly once, as a
function that returns SQL text built from SQL-text operands (column
names, struct fields, literals, other kernels' text). DataFrame
callers wrap their whole predicate in one `F.expr` (a column name
resolves there as it does in `F.col`); the `st_*` SQL functions of
`sql_api` use the same text as their bodies. Every double literal
goes through `double_sql`, so the text parses to the same
expression tree a Column builder would make.

- `edges_sql`          — edge-array literal of one geometry;
- `contains_sql`       — even-odd ray casting: one `aggregate` over
  the edges counting crossings right of the point. For a polygon
  with holes or a disjoint multipolygon this equals the numpy
  oracle `geometry.contains` (shell-minus-holes / union);
- `contains_geom_sql`  — member-OR of `contains_sql` (overlapping
  MULTIPOLYGON members);
- `pt_seg_d2_sql`      — clamped point-to-segment squared distance;
  `min_seg_dist2_sql` is its minimum over an edge array;
- `dwithin_sql`        — point within a distance of an edge array
  (boundary distance, plus containment for polygons);
- `seg_cross_sql`      — proper crossing of two edge structs;
- `geom_intersects_sql` / `geom_dwithin_sql` — geometry-vs-geometry
  predicates over two edge arrays (nested higher-order functions).

Lambda variables are named `x_<n>` / `y_<n>` from one module
counter, the form PySpark gives its own lambdas: a caller's column
named `x`, `y`, `e` or `acc` is never captured by a kernel lambda,
and nested kernels never shadow each other.

Formula parity: the crossing test and the t-clamped segment distance
are literal transcriptions of geometry._ring_contains / seg_dist2,
so the SQL refine and the numpy oracle agree bit-for-bit away from
geometry boundaries (boundary behavior is tolerance-level in both,
as in JTS).
"""

from __future__ import annotations

import itertools

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

_LAMBDA_IDS = itertools.count()


def _fresh(name: str) -> str:
    return f"{name}_{next(_LAMBDA_IDS)}"


def _ends(e: str) -> tuple[str, str, str, str]:
    """The x0, y0, x1, y1 fields of an edge-struct text."""
    return f"{e}.x0", f"{e}.y0", f"{e}.x1", f"{e}.y1"


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


def edges_sql(geom: G.Geometry) -> str:
    """Edge-array literal of one geometry: one expression, so a
    caller parses it in the same `F.expr` as its predicate (a Column
    per value would cost a py4j round trip each)."""
    structs = ", ".join(
        "named_struct('x0', {}, 'y0', {}, 'x1', {}, 'y1', {})".format(
            *map(double_sql, e)
        )
        for e in geom_edges(geom)
    )
    return f"array({structs})"


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
    overlap via contains_geom_sql's member-OR."""
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


def contains_geom_sql(geom: G.Geometry, lon: str, lat: str) -> str:
    """Member-OR even-odd PIP matching geometry.contains: even-odd
    over the FLATTENED edges of a MULTIPOLYGON cancels in regions
    covered by an even number of overlapping members (2 shells -> 2
    crossings -> 'outside'), so each member (shell + holes, where
    even-odd IS correct) evaluates separately and the members OR."""
    members = (contains_sql(edges_sql(m), lon, lat) for m in geom_members(geom))
    return "(" + " OR ".join(members) + ")"


def contains_sql(edges: str, px: str, py: str) -> str:
    """Even-odd point-in-polygon over an edge array.

    Mirrors geometry._ring_contains: crossing iff the edge straddles
    the point's latitude (half-open rule) and the intersection of
    the edge with that latitude lies strictly right of the point.
    Horizontal edges produce NaN intersections and never straddle —
    the comparison is then false, matching numpy.
    """
    px, py = f"({px})", f"({py})"
    acc, e = _fresh("x"), _fresh("y")
    x0, y0, x1, y1 = _ends(e)
    straddles = f"(({y0} > {py}) != ({y1} > {py}))"
    xint = f"({x0} + ((({py} - {y0}) * ({x1} - {x0})) / ({y1} - {y0})))"
    step = f"({acc} + CASE WHEN ({straddles} AND ({px} < {xint})) THEN 1 ELSE 0 END)"
    return f"((aggregate({edges}, 0, ({acc}, {e}) -> {step}) % 2) = 1)"


def pt_seg_d2_sql(px: str, py: str, x0: str, y0: str, x1: str, y1: str) -> str:
    """Squared distance from point (px,py) to the segment
    (x0,y0)-(x1,y1): clamped projection, a zero-length segment uses
    t=0 through the len2 == 0 guard."""
    px, py, x0, y0, x1, y1 = (f"({s})" for s in (px, py, x0, y0, x1, y1))
    dx, dy = f"({x1} - {x0})", f"({y1} - {y0})"
    ln2 = f"(({dx} * {dx}) + ({dy} * {dy}))"
    ln2 = f"CASE WHEN ({ln2} = {double_sql(0.0)}) THEN {double_sql(1.0)} ELSE {ln2} END"
    t = f"(((({px} - {x0}) * {dx}) + (({py} - {y0}) * {dy})) / {ln2})"
    t = f"least({double_sql(1.0)}, greatest({double_sql(0.0)}, {t}))"
    cx, cy = f"({x0} + ({t} * {dx}))", f"({y0} + ({t} * {dy}))"
    return f"((({px} - {cx}) * ({px} - {cx})) + (({py} - {cy}) * ({py} - {cy})))"


def min_seg_dist2_sql(edges: str, px: str, py: str) -> str:
    """Min squared distance from (px,py) to any edge segment
    (mirrors geometry.seg_dist2)."""
    acc, e = _fresh("x"), _fresh("y")
    d2 = pt_seg_d2_sql(px, py, *_ends(e))
    return (f"aggregate({edges}, {double_sql(float('inf'))}, "
            f"({acc}, {e}) -> least({acc}, {d2}))")


def dwithin_sql(
    edges: str, px: str, py: str, dist_deg: str, is_polygon: bool
) -> str:
    """True where the point is within dist (degrees) of the geometry
    (geometry.dwithin parity: boundary distance OR containment)."""
    d = f"({dist_deg})"
    near = f"({min_seg_dist2_sql(edges, px, py)} <= ({d} * {d}))"
    return f"({near} OR {contains_sql(edges, px, py)})" if is_polygon else near


def seg_cross_sql(a: str, b: str) -> str:
    """Proper crossing of edge structs a and b: endpoints of each lie
    strictly on opposite sides of the other (orientation signs).
    Collinear configurations report no crossing (degenerate touching
    is tolerance-level, as in JTS)."""

    def cross(s: str, px: str, py: str) -> str:
        sx0, sy0, sx1, sy1 = _ends(s)
        return f"((({sx1} - {sx0}) * ({py} - {sy0})) - (({sy1} - {sy0}) * ({px} - {sx0})))"

    ax0, ay0, ax1, ay1 = _ends(a)
    bx0, by0, bx1, by1 = _ends(b)
    return (
        f"((({cross(a, bx0, by0)} > 0) != ({cross(a, bx1, by1)} > 0)) AND "
        f"(({cross(b, ax0, ay0)} > 0) != ({cross(b, ax1, ay1)} > 0)))"
    )


def _any_vertex_in(p_edges: str, q_edges: str) -> str:
    """Some vertex of edge array P lies inside edge array Q: both
    ends of every edge, so an open line's final vertex counts."""
    v, w = _fresh("x"), _fresh("x")
    return (
        f"(exists({p_edges}, {v} -> {contains_sql(q_edges, f'{v}.x0', f'{v}.y0')})"
        f" OR exists({p_edges}, {w} -> {contains_sql(q_edges, f'{w}.x1', f'{w}.y1')}))"
    )


def geom_intersects_sql(a: str, b: str, a_has_interior: str, b_has_interior: str) -> str:
    """`intersects(A, B)` over two edge arrays.

    A and B intersect iff any A vertex lies inside B (B polygonal),
    any B vertex lies inside A (A polygonal), or any edge pair
    properly crosses. Vertex containment is the even-odd
    `contains_sql` aggregate, so holes and multipolygon unions are
    honored on both sides. Exact away from degenerate (collinear /
    boundary) configurations — the same tolerance class as the JTS
    evaluation in the reference's iterators. numpy twin:
    geometry.geom_intersects."""
    ae, be = _fresh("x"), _fresh("x")
    crossing = f"exists({a}, {ae} -> exists({b}, {be} -> {seg_cross_sql(ae, be)}))"
    return (
        f"((({b_has_interior}) AND {_any_vertex_in(a, b)})"
        f" OR (({a_has_interior}) AND {_any_vertex_in(b, a)})"
        f" OR {crossing})"
    )


def geom_dwithin_sql(
    a: str, b: str, dist_deg: str, a_has_interior: str, b_has_interior: str
) -> str:
    """`distance(A, B) <= dist_deg` over two edge arrays — the
    dwithin generalization the reference reaches through JTS for
    non-point geometries (buffer+decompose rewrite
    FilterHelper.scala:127-145; exact evaluation in the iterators).
    Intersecting geometries (including interior containment) are
    distance zero; otherwise the boundary-to-boundary minimum
    decides: 0 on a proper crossing, else the least of the four
    endpoint-to-other-segment distances. numpy twin:
    geometry.geom_dwithin."""
    d = f"({dist_deg})"
    ae, be = _fresh("x"), _fresh("x")
    ax0, ay0, ax1, ay1 = _ends(ae)
    bx0, by0, bx1, by1 = _ends(be)
    seg_d2 = (
        f"CASE WHEN {seg_cross_sql(ae, be)} THEN {double_sql(0.0)} ELSE least("
        f"{pt_seg_d2_sql(ax0, ay0, *_ends(be))}, {pt_seg_d2_sql(ax1, ay1, *_ends(be))}, "
        f"{pt_seg_d2_sql(bx0, by0, *_ends(ae))}, {pt_seg_d2_sql(bx1, by1, *_ends(ae))}) END"
    )
    near = f"exists({a}, {ae} -> exists({b}, {be} -> ({seg_d2} <= ({d} * {d}))))"
    return f"({geom_intersects_sql(a, b, a_has_interior, b_has_interior)} OR {near})"


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
