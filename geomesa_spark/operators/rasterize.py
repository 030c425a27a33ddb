"""Non-point density rasterization: multipoints, linestrings,
polygons onto the density grid.

Reference: DensityIterator.scala:81-118 — multipoints contribute
each vertex, linestrings are walked cell-by-cell
(GridSnap.generateLineCoordSet), polygons contribute every coverage
cell whose centroid lies inside. Each feature counts a given pixel
at most once (the iterator dedups per feature).

Spark form: a one-off `mapInPandas` derives each geometry's edge
array (WKT parse — derivation, not the aggregation hot path), then
everything is JVM column ops:

- line walk  = explode(edges) -> explode(sequence(0, steps)) ->
  linear interpolation -> grid snap -> distinct(key, i, j)
- polygon    = explode its bbox pixel window -> centroid-in-polygon
  via the even-odd edge aggregate -> (key, i, j)
- final      = groupBy(i, j).sum(weight) — the same partial/final
  hash aggregation as the point density operator.

The per-edge step count samples at half-pixel pitch, a superset of
the reference's DDA walk on convex pixels (both are approximations;
the oracle tests replicate this walk exactly in numpy).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_spark.functions import cells as C
from geomesa_spark.functions import geometry as G
from geomesa_spark.functions import geometry_sql as GS

EDGES_ROW_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("weight", T.DoubleType()),
        T.StructField("edges", GS.EDGE_SCHEMA),
    ]
)


def parse_geoms(
    df: DataFrame,
    wkt_col: str,
    key_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """(key, kind, weight, edges) per input geometry row — the only
    Python step (WKT parsing), Arrow-batched."""
    has_w = weight_col is not None

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                geom = G.parse_wkt(pdf[wkt_col].iat[i])
                key = str(pdf[key_col].iat[i])
                w = float(pdf[weight_col].iat[i]) if has_w else 1.0
                # one ROW per MULTIPOLYGON member: flattened even-odd
                # cancels in regions where overlapping members stack
                # (2 shells -> 2 crossings -> pixel dropped); per
                # member even-odd is correct, and the per-(key,pixel)
                # dedup downstream makes the members OR
                for m in GS.geom_members(geom):
                    rows.append(
                        (
                            key,
                            geom.kind,
                            w,
                            # geom_edges emits a degenerate (x,y,x,y)
                            # edge for single-point rings, so it is
                            # non-empty for every parseable geometry
                            GS.geom_edges(m),
                        )
                    )
            yield pd.DataFrame(rows, columns=["key", "kind", "weight", "edges"])

    return df.mapInPandas(gen, schema=EDGES_ROW_SCHEMA)


def _grid_ij(lon, lat, bbox, width, height):
    i, j = C.grid_snap_cols(lon, lat, bbox, width, height)
    return i, j


def density_geoms(
    geoms: DataFrame,
    bbox: tuple[float, float, float, float],
    width: int,
    height: int,
) -> DataFrame:
    """Density grid over parsed geometries (`parse_geoms` output).

    Returns (i, j, weight). Lines/points walk edges; polygons add
    their centroid-covered pixels; each (key, pixel) counts once.
    """
    xmin, ymin, xmax, ymax = bbox
    cw = (xmax - xmin) / width
    ch = (ymax - ymin) / height

    base = geoms.select("key", "kind", "weight", "edges")

    # --- edge walk (points degenerate to single-sample edges) ---
    e = base.select("key", "weight", F.explode("edges").alias("e"))
    # LONG, not int: a long edge against a deeply zoomed grid can
    # exceed 2^31 half-pixel steps, and a non-ANSI int cast would
    # wrap negative (flipping t's sign and exploding a descending
    # sequence). The exploded s-range below stays window-bounded
    # regardless — only the denominator needs the headroom.
    steps = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(
            F.greatest(
                F.abs(F.col("e.x1") - F.col("e.x0")) / F.lit(cw * 0.5),
                F.abs(F.col("e.y1") - F.col("e.y0")) / F.lit(ch * 0.5),
            )
        ).cast("long"),
    )

    # Liang-Barsky window of the edge's parameter range inside the
    # bbox: samples keep their EXACT positions on the t = s/n grid
    # (results unchanged), but s only ranges over the in-window part
    # (+-1 guard step for FP rounding) — without this a continental
    # edge against a zoomed-in grid exploded ~|edge|/(pixel/2) rows
    # that the bbox filter then discarded
    def _axis_win(p0, d, lo, hi):
        d_safe = F.when(d == 0.0, F.lit(1.0)).otherwise(d)
        ta = (F.lit(lo) - p0) / d_safe
        tb = (F.lit(hi) - p0) / d_safe
        inside = p0.between(F.lit(lo), F.lit(hi))
        inf = F.lit(float("inf"))
        wlo = F.when(d == 0.0, F.when(inside, -inf).otherwise(inf)).otherwise(
            F.least(ta, tb)
        )
        whi = F.when(d == 0.0, F.when(inside, inf).otherwise(-inf)).otherwise(
            F.greatest(ta, tb)
        )
        return wlo, whi

    ex0, ey0 = F.col("e.x0"), F.col("e.y0")
    edx = F.col("e.x1") - ex0
    edy = F.col("e.y1") - ey0
    wxl, wxh = _axis_win(ex0, edx, xmin, xmax)
    wyl, wyh = _axis_win(ey0, edy, ymin, ymax)
    tlo = F.greatest(F.lit(0.0), wxl, wyl)
    thi = F.least(F.lit(1.0), wxh, wyh)
    s_lo = F.greatest(
        F.lit(0).cast("long"), (F.floor(tlo * steps) - 1).cast("long")
    )
    s_hi = F.least(steps, (F.ceil(thi * steps) + 1).cast("long"))
    walked = (
        e.filter(thi >= tlo)
        .select(
            "key",
            "weight",
            "e",
            F.explode(F.sequence(s_lo, s_hi)).alias("s"),
            steps.alias("n"),
        )
    )
    t = F.col("s").cast("double") / F.col("n").cast("double")
    lon = F.col("e.x0") + t * (F.col("e.x1") - F.col("e.x0"))
    lat = F.col("e.y0") + t * (F.col("e.y1") - F.col("e.y0"))
    i, j = _grid_ij(lon, lat, bbox, width, height)
    line_px = (
        walked.filter(
            lon.between(F.lit(xmin), F.lit(xmax))
            & lat.between(F.lit(ymin), F.lit(ymax))
        )
        .select("key", "weight", i.alias("i"), j.alias("j"))
    )

    # --- polygon interior: pixel-centroid containment ---
    polys = base.filter(F.col("kind").isin("POLYGON", "MULTIPOLYGON"))
    bx0 = F.aggregate(
        F.col("edges"), F.lit(float("inf")), lambda a, ed: F.least(a, ed["x0"])
    )
    bx1 = F.aggregate(
        F.col("edges"), F.lit(float("-inf")), lambda a, ed: F.greatest(a, ed["x0"])
    )
    by0 = F.aggregate(
        F.col("edges"), F.lit(float("inf")), lambda a, ed: F.least(a, ed["y0"])
    )
    by1 = F.aggregate(
        F.col("edges"), F.lit(float("-inf")), lambda a, ed: F.greatest(a, ed["y0"])
    )
    i0, j0 = _grid_ij(bx0, by0, bbox, width, height)
    i1, j1 = _grid_ij(bx1, by1, bbox, width, height)
    grid = (
        polys.select("key", "weight", "edges", i0.alias("i0"), i1.alias("i1"),
                     j0.alias("j0"), j1.alias("j1"))
        .select(
            "key", "weight", "edges",
            F.explode(F.sequence("i0", "i1")).alias("i"), "j0", "j1",
        )
        .select(
            "key", "weight", "edges", "i",
            F.explode(F.sequence("j0", "j1")).alias("j"),
        )
    )
    half = GS.double_sql(0.5)
    cx = f"{GS.double_sql(xmin)} + (i + {half}) * {GS.double_sql(cw)}"
    cy = f"{GS.double_sql(ymin)} + (j + {half}) * {GS.double_sql(ch)}"
    poly_px = grid.filter(F.expr(GS.contains_sql("edges", cx, cy))).select(
        "key", "weight", "i", "j"
    )

    # each feature counts a pixel once (DeDup per feature, then sum)
    px = line_px.unionByName(poly_px).dropDuplicates(["key", "i", "j"])
    return px.groupBy("i", "j").agg(F.sum("weight").alias("weight"))
