"""Point-in-polygon join on the S2 spherical index.

The north-star join strategy restated on S2 cells instead of Z2:
polygons -> mixed-level spherical covers (functions/s2.s2_polyfill),
points -> one S2 cell + its ancestors at the cover's levels, one
broadcast hash join on cell equality, exact JVM even-odd refine.
Reference analog: the geohash cover + iterator refine pipeline
(GeohashUtils.scala:779-794 decomposition, exact filter
KryoLazyFilterTransformIterator.scala:84-94), with S2's mixed-level
covering replacing the reference's single-resolution geohash sets.

Where the Z2 broadcast join (operators/spatial_join.pip_join_broadcast)
runs one join per cover RESOLUTION group, the S2 cover is mixed-level
by construction (interior subtrees emit coarse, boundaries emit fine),
so the point side explodes its ancestor cell at each distinct cover
level — G rows per point for G distinct levels (bounded by the
quadtree depth, typically 5-8) — and ONE broadcast hash join covers
every level at once.  Cover cells of one polygon are spatially
disjoint (BFS nodes are never ancestor/descendant pairs), so at most
one exploded ancestor matches per (point, polygon): the join itself
cannot duplicate.

Scale shape: the point table is never shuffled; the encode runs once
per row behind a Generate barrier (the s2_bbox_scan discipline — the
ancestor explode IS that barrier); the refine is the shared JVM
even-odd edge aggregate; no Python anywhere in the physical plan
(asserted in tests/test_s2_join.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geomesa_spark.functions import geometry as G
from geomesa_spark.functions import geometry_sql as GS
from geomesa_spark.functions import s2 as S2
from geomesa_spark.operators.spatial_join import _refine_pip

DEFAULT_LEVEL = 12
DEFAULT_MAX_CELLS = 4096


def s2_cover_pdf(
    polys: list[tuple[str, str]],
    level: int = DEFAULT_LEVEL,
    max_cells: int = DEFAULT_MAX_CELLS,
) -> pd.DataFrame:
    """Driver-side cover table: (pcell, plevel, interior, poly_id)."""
    rows = []
    for pid, wkt in polys:
        geom = G.normalize_idl(G.parse_wkt(wkt))
        cells, levels, interior = S2.s2_polyfill(geom, level, max_cells)
        rows.append(
            pd.DataFrame(
                {
                    "pcell": cells,
                    "plevel": levels.astype("int32"),
                    "interior": interior,
                    "poly_id": pid,
                }
            )
        )
    return pd.concat(rows, ignore_index=True)


def pip_join_s2(
    points: DataFrame,
    polys: list[tuple[str, str]],
    level: int = DEFAULT_LEVEL,
    max_cells: int = DEFAULT_MAX_CELLS,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """PIP join, S2 broadcast strategy (small polygon layer).

    `polys`: [(poly_id, wkt)].  Result: points columns + `poly_id`.
    The point table is never shuffled: S2 encode once per row, one
    Generate (the ancestor explode doubles as the barrier that keeps
    the Hilbert fold out of downstream predicate substitution), one
    broadcast hash join against the cover, broadcast edges, JVM
    even-odd refine with the interior fast path.
    """
    spark = points.sparkSession
    if not polys:
        return points.limit(0).withColumn("poly_id", F.lit(None).cast("string"))
    cover = s2_cover_pdf(polys, level, max_cells)
    cov_df = spark.createDataFrame(
        cover, "pcell long, plevel int, interior boolean, poly_id string"
    )
    edges = F.broadcast(GS.poly_edges_df(spark, polys))
    cover_levels = sorted(int(v) for v in cover["plevel"].unique())

    cols = points.columns
    pts = S2.with_s2_cell(
        points, F.col(lon_col), F.col(lat_col), level, out="__s2c"
    ).select(
        *cols,
        F.explode(
            F.array(
                *[
                    S2.s2_parent_col(F.col("__s2c"), lv)
                    for lv in cover_levels
                ]
            )
        ).alias("_pcell"),
    )
    joined = pts.join(
        F.broadcast(cov_df), pts["_pcell"] == cov_df["pcell"], "inner"
    ).join(edges, "poly_id")
    return joined.filter(_refine_pip(lon_col, lat_col)).drop(
        "_pcell", "pcell", "plevel", "interior", "edges"
    )
