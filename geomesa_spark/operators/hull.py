"""Distributed convex hull per group.

The classic per-category footprint question ("the extent of each
fleet's activity", "the envelope of each event type") — the reference
leaves hulls to GeoTools' client-side ``ConvexHull``; here the
reduction runs distributed and only hull-sized remainders ever meet
the sequential step.

Shape: hull(S) = hull(hull(S₁) ∪ … ∪ hull(Sₚ)), so the operator runs
TWO rounds of the same exact monotone chain (Andrew 1979):

1. points salt into (group, salt) shards — bounded pandas groups —
   and each shard reduces to its LOCAL hull vertices (output is hull-
   sized, typically O(log n) for random data, O(shard) worst case on
   a circle);
2. each group's surviving candidates (≤ shards × local hull size)
   run the final chain in one ``applyInPandas`` group — the
   ``simplify``/``dtw_join`` escape-hatch contract for inherently
   sequential per-group algorithms.

Exactness: coordinates quantize to fp int64 and every turn decision
is an INTEGER cross product (python ints in the chain — no overflow
at any fp_scale), so the hull is deterministic under any partitioning
and any shard assignment: local hulls are exact subsets, and the
final chain sees the same candidate SET regardless of layout.
Duplicates dedup; collinear boundary points are NOT vertices (strict
turns); orientation is counter-clockwise starting from the
lexicographically-least vertex.

Overflow bound (cross products in the DuckDB oracle's int64): the
quantized extent must satisfy span_x · span_y < 2^63 — at the default
fp_scale=1e7 the whole world is 3.6e9 × 1.8e9 = 6.5e18, inside the
bound; the operator itself uses python ints and has no bound.

Degenerates: a single distinct point yields one vertex and no edges;
a collinear set yields its two extremes (one edge).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "convex_hull",
    "hull_edges",
    "polygon_area",
    "polygon_moments",
]


def _chain(pts: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Monotone chain on deduped pairs: CCW, strict turns, starting
    at the lexicographic minimum.  Int pairs (``convex_hull``) turn
    exactly; finite float pairs (``simplify.track_hulls``) turn in
    IEEE doubles.  One distinct point yields one vertex, a collinear
    set its two extremes."""
    pts = sorted(set(pts))
    if len(pts) <= 1:
        return pts

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (
            b[0] - o[0]
        )

    lower: list[tuple[int, int]] = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list[tuple[int, int]] = []
    for p in reversed(pts):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return lower[:-1] + upper[:-1]


def convex_hull(
    pts: DataFrame,
    *,
    by: list[str] | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
    fp_scale: int = 10_000_000,
    shards: int = 64,
) -> DataFrame:
    """Hull vertices per group: (by..., vertex_idx, x, y) in CCW
    order from the lexicographically-least vertex.  Coordinates are
    the de-quantized vertex positions (exact multiples of
    1/fp_scale)."""
    user_keys = list(by) if by else []
    fp = float(fp_scale)
    xq = F.round(F.col(lon_col) * F.lit(fp)).cast("long")
    yq = F.round(F.col(lat_col) * F.lit(fp)).cast("long")
    base = pts.select(
        *user_keys, xq.alias("xq"), yq.alias("yq")
    ).dropDuplicates([*user_keys, "xq", "yq"])
    # internal constant group when ungrouped — one code path
    keys = user_keys or ["_g"]
    if not user_keys:
        base = base.withColumn("_g", F.lit(1))
    key_fields = ", ".join(
        f"{c} {dict(base.dtypes)[c]}" for c in keys
    )

    def _hulls(with_idx: bool):
        def fn(pdf: pd.DataFrame) -> pd.DataFrame:
            hull = _chain(
                list(
                    zip(
                        pdf["xq"].astype(object),
                        pdf["yq"].astype(object),
                    )
                )
            )
            out = pd.DataFrame(hull, columns=["xq", "yq"])
            if with_idx:
                out["vertex_idx"] = range(len(hull))
            for c in keys:
                out[c] = pdf[c].iloc[0]
            cols = [*keys, "xq", "yq"] + (
                ["vertex_idx"] if with_idx else []
            )
            return out[cols]

        return fn

    salt = F.pmod(
        F.xxhash64(F.col("xq"), F.col("yq")), F.lit(int(shards))
    ).alias("_salt")
    reduced = (
        base.select(*keys, "xq", "yq", salt)
        .groupBy(*keys, "_salt")
        .applyInPandas(
            _hulls(False), schema=f"{key_fields}, xq long, yq long"
        )
    )
    verts = reduced.groupBy(*keys).applyInPandas(
        _hulls(True),
        schema=f"{key_fields}, xq long, yq long, vertex_idx long",
    )
    return verts.select(
        *user_keys,
        "vertex_idx",
        (F.col("xq").cast("double") / F.lit(fp)).alias("x"),
        (F.col("yq").cast("double") / F.lit(fp)).alias("y"),
    )


def hull_edges(
    verts: DataFrame, *, by: list[str] | None = None
) -> DataFrame:
    """Consecutive CCW vertex pairs (cyclic) per group:
    (by..., ax, ay, bx, by_).  Pure JVM: one max(vertex_idx) window
    per group + an equi-join on the successor index.  A 1-vertex
    hull emits no edges; a 2-vertex (collinear) hull emits its
    single segment once (no back-edge)."""
    user_keys = list(by) if by else []
    keys = user_keys or ["_g"]
    if not user_keys:
        verts = verts.withColumn("_g", F.lit(1))
    w = Window.partitionBy(*keys)
    v = verts.withColumn("_nv", F.max("vertex_idx").over(w) + 1)
    a = v.filter(
        (F.col("_nv") > 2)
        | ((F.col("_nv") == 2) & (F.col("vertex_idx") == 0))
    ).select(
        *keys,
        F.pmod(F.col("vertex_idx") + 1, F.col("_nv")).alias("_j"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
    )
    b = v.select(
        *keys,
        F.col("vertex_idx").alias("_j"),
        F.col("x").alias("bx"),
        F.col("y").alias("by_"),
    )
    return a.join(b, [*keys, "_j"]).select(
        *user_keys, "ax", "ay", "bx", "by_"
    )


def _q_fp(c: str, fp: float):
    """Re-quantize a de-quantized edge coordinate to fp decimal(19,0)
    — ONE definition shared by polygon_area and polygon_moments so
    their area2_fp can never desynchronize."""
    return (
        F.round(F.col(c) * F.lit(fp))
        .cast("long")
        .cast("decimal(19,0)")
    )


# shoelace over DIRECTED CCW edges: an order-free SUM of exact
# decimal(38,0) cross terms — one division of canonical integers at
# the end.  An OPEN single segment (2-vertex degenerate hull) does
# not telescope, so the sum only counts for closed rings (>= 3 edges).
HULL_AREA_SQL = (
    "CAST({a2} AS DOUBLE) / (2.0 * {fp} * {fp})"
)


def polygon_area(
    edges: DataFrame,
    *,
    by: list[str] | None = None,
    fp_scale: int = 10_000_000,
) -> DataFrame:
    """Exact polygon area from DIRECTED CCW edges (``hull_edges``
    output, or any simple CCW ring in the same (ax, ay, bx, by_)
    shape): the shoelace sum Σ(ax·by − bx·ay) is per-edge
    independent, so it is ONE partial-aggregated groupBy — no vertex
    ordering is ever reconstructed.

    Coordinates re-quantize to fp int64 (exact: edge coordinates are
    de-quantized multiples of 1/fp_scale, and round() recovers the
    integer) and the cross terms accumulate as decimal(38,0) — raw
    (untranslated) shoelace terms reach coord² ≈ 1e19 at world scale,
    past int64; decimal keeps every term and the sum exact (the
    centrography convention).  `area` is ONE decimal→double cast +
    division of the canonical integer.  Degenerate hulls (a single
    OPEN segment from a 2-vertex hull — shoelace doesn't telescope)
    report area 0 via the n_edges >= 3 ring gate.

    Returns (by..., n_edges, area2_fp decimal(38,0), area)."""
    keys = list(by) if by else []
    fp = float(fp_scale)
    cross = _q_fp("ax", fp) * _q_fp("by_", fp) - _q_fp(
        "bx", fp
    ) * _q_fp("ay", fp)
    out = (
        edges.select(*keys, cross.alias("_c"))
        .groupBy(*keys)
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.sum("_c").cast("decimal(38,0)").alias("_s"),
        )
        .select(
            *keys,
            "n_edges",
            F.when(F.col("n_edges") >= 3, F.col("_s"))
            .otherwise(F.lit(0).cast("decimal(38,0)"))
            .alias("area2_fp"),
        )
    )
    return out.withColumn(
        "area",
        F.expr(HULL_AREA_SQL.format(a2="area2_fp", fp=repr(fp))),
    )


# centroid component: two divisions of canonical integers — sx is in
# fp³ units and area2 in fp², so /(3·area2) yields fp units and /fp
# yields degrees.  NULL for degenerate (zero-area) rings.
HULL_CENTROID_SQL = (
    "CASE WHEN {a2} <> 0 THEN CAST({sx} AS DOUBLE) "
    "/ (3.0 * CAST({a2} AS DOUBLE)) / {fp} END"
)

# perimeter: ONE division of the canonical integer length sum
HULL_PERIM_SQL = "CAST({pf} AS DOUBLE) / {fp}"


def polygon_moments(
    edges: DataFrame,
    *,
    by: list[str] | None = None,
    fp_scale: int = 10_000_000,
) -> DataFrame:
    """Area + perimeter + centroid from DIRECTED CCW edges — every
    moment is per-edge independent, so the whole surface is ONE
    partial-aggregated groupBy (the ``polygon_area`` contract,
    widened):

    - ``area2_fp``   = Σ(ax·by − bx·ay)            (shoelace, exact)
    - ``sx_fp/sy_fp`` = Σ(ax+bx)·cross, Σ(ay+by)·cross (Green's-
      theorem centroid numerators, exact decimal(38,0))
    - ``perim_fp``   = Σ round(|edge|·fp)           (per-edge length
      quantized to fp units: cast/sqrt/floor are all IEEE-exact and
      identical across engines, so the int64 sum is order-free; the
      quantization error is ≤ one fp unit per edge, documented)
    - ``cx/cy``      = sx/(3·area2)/fp via HULL_CENTROID_SQL (NULL
      for degenerate rings), ``area``/``perimeter`` one division each

    Open single segments (2-vertex hulls) zero the ring moments via
    the n_edges >= 3 gate but keep their true perimeter (the segment
    length).  Returns (by..., n_edges, area2_fp, area, perim_fp,
    perimeter, cx, cy)."""
    keys = list(by) if by else []
    fp = float(fp_scale)
    ax, ay, bx, by2 = (
        _q_fp("ax", fp), _q_fp("ay", fp),
        _q_fp("bx", fp), _q_fp("by_", fp),
    )
    cross = ax * by2 - bx * ay
    dx, dy = bx - ax, by2 - ay
    d2 = (dx * dx + dy * dy).cast("decimal(38,0)")
    # sqrt(d2) ≤ 5.1e9 fp units (world diagonal) < 2^53, so +0.5 and
    # floor are exact; the decimal→double cast is correctly rounded
    edge_len = F.floor(F.sqrt(d2.cast("double")) + F.lit(0.5)).cast(
        "long"
    )
    out = (
        edges.select(
            *keys,
            cross.alias("_c"),
            ((ax + bx) * cross).alias("_sx"),
            ((ay + by2) * cross).alias("_sy"),
            edge_len.alias("_l"),
        )
        .groupBy(*keys)
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.sum("_c").cast("decimal(38,0)").alias("_a2"),
            F.sum("_sx").cast("decimal(38,0)").alias("_sxs"),
            F.sum("_sy").cast("decimal(38,0)").alias("_sys"),
            F.sum("_l").cast("decimal(38,0)").alias("perim_fp"),
        )
    )
    ring = F.col("n_edges") >= 3
    zero = F.lit(0).cast("decimal(38,0)")
    out = out.select(
        *keys,
        "n_edges",
        F.when(ring, F.col("_a2")).otherwise(zero).alias("area2_fp"),
        F.when(ring, F.col("_sxs")).otherwise(zero).alias("sx_fp"),
        F.when(ring, F.col("_sys")).otherwise(zero).alias("sy_fp"),
        "perim_fp",
    )
    fp_r = repr(fp)
    return out.select(
        *keys,
        "n_edges",
        "area2_fp",
        "perim_fp",
        F.expr(HULL_AREA_SQL.format(a2="area2_fp", fp=fp_r)).alias(
            "area"
        ),
        F.expr(HULL_PERIM_SQL.format(pf="perim_fp", fp=fp_r)).alias(
            "perimeter"
        ),
        F.expr(
            HULL_CENTROID_SQL.format(
                sx="sx_fp", a2="area2_fp", fp=fp_r
            )
        ).alias("cx"),
        F.expr(
            HULL_CENTROID_SQL.format(
                sx="sy_fp", a2="area2_fp", fp=fp_r
            )
        ).alias("cy"),
    )
