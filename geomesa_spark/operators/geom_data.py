"""Non-point DATA geometries: store and join LineString/Polygon rows.

The reference's ST index stores *any* geometry row and evaluates
geometry-vs-geometry predicates post-index (SpatioTemporalTable.
scala:38-46 interleaves index/data rows for arbitrary geometries;
STIdxStrategy.scala:218-243 plans over them; the supported type list
is SimpleFeatureTypes.scala:405-465; duplicate elimination for
non-point rows that land in several index cells is
IndexSchema.scala:300-307). The engine's base tables are point rows
(lon/lat); this module adds the non-point layer:

- `geom_table`   — WKT column -> typed geometry columns: `kind`,
  bbox (`xmin ymin xmax ymax`), and the refine payload `edges`
  (the flattened ring-edge array of geometry_sql.EDGE_SCHEMA), one
  Arrow-batched mapInPandas pass.
- `geom_cover_cells` — bbox cell cover at a chosen resolution as
  pure column ops (explode of x/y index ranges — the geohash-prefix
  box of the ST index key, no Python, no driver work).
- `geom_intersects_col` — geometry-vs-geometry `intersects` as one
  JVM column expression over two edge arrays (nested higher-order
  functions): any A-vertex in B + any B-vertex in A (when the
  respective side has interior) + any proper edge crossing. Exact
  for non-degenerate inputs; collinear-overlap touching is
  tolerance-level, as in the JTS evaluation it mirrors.
- `geom_join_broadcast` — the PIP join generalized to non-point
  data rows: coarse bbox-cell join against a polygon layer's cell
  cover, dedup of multi-cell matches (the IndexSchema.scala:300-307
  analog) BEFORE the refine, then the exact JVM refine.
- `geom_scan` — planner-style pruned scan of a geometry table for a
  QuerySpec (bbox-overlap pushdown + exact refine).

Scale notes: the cover explode is bounded by the geometry bbox size
at the chosen `bits` — pick the resolution so typical features span
O(1..10) cells (the reference's 5-40-bit geohash window,
GeohashUtils.scala:638). The polygon layer rides as a broadcast;
data rows shuffle only on the cell key, and the refine is pure
whole-stage-codegen JVM (no Python after `geom_table`).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_spark.functions import cells as C
from geomesa_spark.functions import geometry as G
from geomesa_spark.functions import geometry_sql as GS
from geomesa_spark.plans.planner import time_predicates

POLY_KINDS = ("POLYGON", "MULTIPOLYGON")


def geom_table(
    df: DataFrame, wkt_col: str = "geom_wkt", keep_wkt: bool = True
) -> DataFrame:
    """Parse a WKT column into typed geometry columns.

    Appends `kind:string`, `xmin ymin xmax ymax:double`, and
    `edges:array<struct<x0,y0,x1,y1>>` (flattened ring edges — the
    refine payload every geometry predicate consumes). One vectorized
    mapInPandas pass; all downstream predicates are JVM-only.
    """
    fields = [f for f in df.schema.fields]
    schema = T.StructType(
        fields
        + [
            T.StructField("kind", T.StringType()),
            T.StructField("xmin", T.DoubleType()),
            T.StructField("ymin", T.DoubleType()),
            T.StructField("xmax", T.DoubleType()),
            T.StructField("ymax", T.DoubleType()),
            T.StructField("edges", GS.EDGE_SCHEMA),
        ]
    )

    def gen(batches):
        for pdf in batches:
            kinds, xmins, ymins, xmaxs, ymaxs, edges = [], [], [], [], [], []
            for wkt in pdf[wkt_col]:
                g = G.parse_wkt(wkt)
                b = g.bounds
                kinds.append(g.kind)
                xmins.append(b[0])
                ymins.append(b[1])
                xmaxs.append(b[2])
                ymaxs.append(b[3])
                edges.append(GS.geom_edges(g))
            out = pdf.copy()
            out["kind"] = kinds
            out["xmin"] = xmins
            out["ymin"] = ymins
            out["xmax"] = xmaxs
            out["ymax"] = ymaxs
            out["edges"] = edges
            yield out

    out = df.mapInPandas(gen, schema=schema)
    return out if keep_wkt else out.drop(wkt_col)


def geom_table_native(
    df: DataFrame, wkt_col: str = "geom_wkt", keep_wkt: bool = True
) -> DataFrame:
    """All-JVM `geom_table` for POINT / LINESTRING / POLYGON (holes
    included) WKT: kind/rings/coords come from regexp + split +
    higher-order transforms, edges from zip_with over consecutive
    vertices — no Python, no Arrow round-trip, whole-stage codegen
    end-to-end. String->double casts are correctly rounded on both
    the JVM and CPython, so the two parsers produce bit-identical
    edge arrays. MULTI* geometries need the Arrow path (`geom_table`).

    The six derived columns are built as ONE struct behind an
    `explode(array(struct))` Generate barrier: CollapseProject cannot
    merge a Project into a Generate, so the parse tree executes once
    per row instead of being re-inlined into every derived column
    (lambda-bearing expressions are excluded from codegen common-
    subexpression elimination, which made the naive per-column form
    ~2x slower when all columns were consumed).

    Which parser wins is WORKLOAD-DEPENDENT (r3 measurements): at low
    parallelism (local[8], 200k simple linestrings) this path was ~2x
    faster than the Arrow `geom_table`; at local[32] on the sf0.1
    gate workload it was ~2.5x slower (the JVM regex/split pipeline
    contends where 32 Arrow workers scale). Default to `geom_table`
    for bulk ingest on wide executors; use this when Python workers
    are unavailable or memory-capped. Both produce bit-identical
    output (tested), so swapping is free.
    """
    s = F.trim(F.col(wkt_col))
    kind_raw = F.upper(F.regexp_extract(s, r"^\s*([A-Za-z]+)", 1))
    # fail LOUDLY on unsupported kinds: a MULTI* body would otherwise
    # silently parse to NULL coordinates and vanish from joins
    kind = F.when(
        kind_raw.isin("POINT", "LINESTRING", "POLYGON"), kind_raw
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("geom_table_native supports POINT/LINESTRING/POLYGON"
                      " only (use geom_table for MULTI*): got "),
                kind_raw,
            )
        )
    )
    # (?s): Java-regex '.' does not match newlines, so a
    # pretty-printed multi-line WKT would silently extract '' and the
    # row's bbox/edges would be null — vanishing from every join
    body = F.regexp_extract(s, r"(?s)\((.*)\)", 1)
    rings = F.split(
        F.regexp_replace(body, r"^\s*\(|\)\s*$", ""), r"\)\s*,\s*\("
    )

    def ring_pts(r):
        return F.transform(
            F.split(F.trim(r), r"\s*,\s*"),
            lambda p: F.struct(
                F.element_at(F.split(F.trim(p), r"\s+"), 1)
                .cast("double")
                .alias("x"),
                F.element_at(F.split(F.trim(p), r"\s+"), 2)
                .cast("double")
                .alias("y"),
            ),
        )

    ringpts = F.transform(rings, ring_pts)

    def ring_edges(pts):
        n = F.size(pts)
        degenerate = F.array(
            F.struct(
                pts[0]["x"].alias("x0"),
                pts[0]["y"].alias("y0"),
                pts[0]["x"].alias("x1"),
                pts[0]["y"].alias("y1"),
            )
        )
        seq = F.zip_with(
            F.slice(pts, 1, n - 1),
            F.slice(pts, 2, n - 1),
            lambda a, b: F.struct(
                a["x"].alias("x0"),
                a["y"].alias("y0"),
                b["x"].alias("x1"),
                b["y"].alias("y1"),
            ),
        )
        return F.when(n <= 1, degenerate).otherwise(seq)

    allpts = F.flatten(ringpts)
    xs = F.transform(allpts, lambda p: p["x"])
    ys = F.transform(allpts, lambda p: p["y"])
    g = F.struct(
        kind.alias("kind"),
        F.array_min(xs).alias("xmin"),
        F.array_min(ys).alias("ymin"),
        F.array_max(xs).alias("xmax"),
        F.array_max(ys).alias("ymax"),
        F.flatten(F.transform(ringpts, ring_edges)).alias("edges"),
    )
    # Generate barrier (see docstring): exactly one output row per
    # input row, parse executed once
    out = df.select("*", F.explode(F.array(g)).alias("_g")).select(
        "*", "_g.*"
    ).drop("_g")
    return out if keep_wkt else out.drop(wkt_col)


DATA_CELL_BUDGET = 256  # max bbox cells a single data row may explode to


def _cell_arr(x0c, x1c, y0c, y1c):
    """array<long> of all cells in the index-space box — nested
    transform over the x/y ranges, pure column ops."""
    return F.flatten(
        F.transform(
            F.sequence(x0c, x1c),
            lambda gx: F.transform(
                F.sequence(y0c, y1c), lambda gy: C.z2_combine(gx, gy)
            ),
        )
    )


def _span_at(bits: int, rb: int):
    """Bbox span (cell count) of a row's cover at resolution rb,
    derived by shifting the `bits`-resolution grid coords (floor
    division property: x_at_rb == x_at_bits >> (bits-rb))."""
    s = bits - rb
    x0 = F.shiftrightunsigned(C.lon_to_x(F.col("xmin"), bits), s)
    x1 = F.shiftrightunsigned(C.lon_to_x(F.col("xmax"), bits), s)
    y0 = F.shiftrightunsigned(C.lat_to_y(F.col("ymin"), bits), s)
    y1 = F.shiftrightunsigned(C.lat_to_y(F.col("ymax"), bits), s)
    return (x0, x1, y0, y1, (x1 - x0 + 1) * (y1 - y0 + 1))


def _line_cells_est(bits: int) -> Column:
    """SPAN-ONLY walked-cover estimate of a 1-D row at `bits`: sum
    over edges of the dominant-axis span in cells. Deliberately
    EXCLUDES the >=1-step-per-edge floor — that floor is invariant
    under coarsening (the walk still takes one step per edge at any
    rb), so counting it would over-coarsen dense many-short-edge
    polylines for zero explode savings while destroying their join
    selectivity; the floor is the accepted 'budget + O(n_edges)'
    slack instead."""
    cw = 360.0 / (1 << bits)
    ch = 180.0 / (1 << bits)
    return F.aggregate(
        F.col("edges"),
        F.lit(0.0),
        lambda a, e: a
        + F.greatest(
            F.abs(e["x1"] - e["x0"]) / F.lit(cw),
            F.abs(e["y1"] - e["y0"]) / F.lit(ch),
        ),
    )


def row_rbits_col(
    bits: int, budget: int = DATA_CELL_BUDGET, tight_lines: bool = True
) -> Column:
    """Per-row cover resolution: the FINEST rb <= bits whose cover
    stays within `budget` cells (rb=0 is one world cell, so every
    row terminates).

    Polygonal / non-tight rows bound their BBOX span (CASE chain over
    the bits levels). Wide tight lines bound their WALKED cover
    instead, in closed form: the walk emits <= 4 * est cells where
    est halves per coarsening step, so rb = bits -
    ceil(log2(4*est(bits)/budget)) guarantees <= budget + O(n_edges)
    cells (a row with many edges intrinsically needs that many index
    keys — same as the reference writing one key per covering
    geohash).

    This is the data-row analog of the query-side budget degrade
    (spatial_join._cover_budget): the reference bounds non-point
    index fan-out the same way by choosing coarser geohash precisions
    for large geometries (GeohashUtils.scala:638 sizing window;
    IndexSchema.scala:300-307 dedups the multi-cell rows)."""
    expr = None
    for rb in range(bits, 0, -1):
        _, _, _, _, span = _span_at(bits, rb)
        cond = span <= budget
        expr = F.when(cond, F.lit(rb)) if expr is None else expr.when(
            cond, F.lit(rb)
        )
    rb_chain = expr.otherwise(F.lit(0)) if expr is not None else F.lit(0)
    if not tight_lines:
        return rb_chain
    _, _, _, _, span_f = _span_at(bits, bits)
    wide_line = (~is_polygonal_col(F.col("kind"))) & (span_f > 16)
    est = _line_cells_est(bits)
    s_line = F.least(
        F.lit(bits),
        F.greatest(
            F.lit(0),
            F.ceil(
                F.log2(
                    F.greatest(
                        F.lit(1.0), est * F.lit(4.0) / F.lit(float(budget))
                    )
                )
            ).cast("int"),
        ),
    )
    return F.when(wide_line, F.lit(bits) - s_line).otherwise(rb_chain)


def geom_cover_cells(
    gdf: DataFrame, bits: int, out_col: str = "_pcell",
    tight_lines: bool = True,
    budget: int | None = None,
    rbits_col: str = "_pbits",
) -> DataFrame:
    """Explode each geometry row to its cell cover.

    Pure column ops — the analog of the ST index writing one key per
    covering geohash. Polygonal rows enumerate their full bbox (the
    interior must be covered: a query cell deep inside the polygon
    still intersects it); with `tight_lines` (default), LINESTRING /
    POINT rows instead enumerate PER-EDGE bboxes — a long diagonal
    polyline covers ~O(length) cells instead of the O(length^2) of
    its global bbox, and the per-edge union is still a provable
    superset of the 1-D geometry's cells. Duplicate cells per row
    are fine: the joins dedup (id, poly) candidates before refining.

    With `budget` set, rows whose bbox would explode to more than
    `budget` cells at `bits` degrade to a coarser PER-ROW resolution
    (the finest rb with span <= budget; see `row_rbits_col`) and the
    output gains `rbits_col` carrying each cell's resolution — joins
    must then match on (cell, resolution). This bounds the explode at
    O(budget) per row for arbitrarily large data polygons; without it
    a continental polygon at fine `bits` is an O(bbox-area) blowup.

    Geometries must not cross the antimeridian — split such rows
    into in-range piece rows first with
    functions.geometry.split_idl_wkt (one output row per piece).
    """
    if budget is None:
        bbox_cells = _cell_arr(
            C.lon_to_x(F.col("xmin"), bits),
            C.lon_to_x(F.col("xmax"), bits),
            C.lat_to_y(F.col("ymin"), bits),
            C.lat_to_y(F.col("ymax"), bits),
        )
        out = gdf
    else:
        # per-row resolution lands in ONE small-int column; the cell
        # array is then a SINGLE expression shifting the bits-grid
        # coords by (bits - rb) via exact power-of-two division —
        # rows within budget shift by 0. (A per-resolution CASE chain
        # of array builders measured ~1.7x slower: O(bits) array
        # expressions blow the codegen method out.)
        out = gdf.withColumn(
            rbits_col, row_rbits_col(bits, budget, tight_lines=tight_lines)
        )
        s = (F.lit(bits) - F.col(rbits_col)).cast("double")
        pw = F.pow(F.lit(2.0), s)

        def shift(c):
            # exact for grid coords < 2^52 (bits <= 31 always holds)
            return F.floor(c.cast("double") / pw).cast("long")

        bbox_cells = _cell_arr(
            shift(C.lon_to_x(F.col("xmin"), bits)),
            shift(C.lon_to_x(F.col("xmax"), bits)),
            shift(C.lat_to_y(F.col("ymin"), bits)),
            shift(C.lat_to_y(F.col("ymax"), bits)),
        )
    if not tight_lines:
        return out.withColumn(out_col, F.explode(bbox_cells))
    # route per row with a CASE over one cell-array column (a
    # filtered two-branch union would re-execute the upstream parse
    # per branch): per-edge covering pays only when the global bbox
    # spans many cells (a long diagonal line's bbox is O(span^2)
    # cells); short features would just emit near-duplicate cells
    # per edge
    _, _, _, _, span = _span_at(bits, bits)
    wide_line = (~is_polygonal_col(F.col("kind"))) & (span > 16)
    if budget is None:
        # per-edge bbox union: O(edge-span^2) for a single long
        # DIAGONAL edge (the budgeted path below fixes that); tight
        # for axis-aligned or short edges
        edge_cells = F.flatten(
            F.transform(
                F.col("edges"),
                lambda e: _cell_arr(
                    C.lon_to_x(F.least(e["x0"], e["x1"]), bits),
                    C.lon_to_x(F.greatest(e["x0"], e["x1"]), bits),
                    C.lat_to_y(F.least(e["y0"], e["y1"]), bits),
                    C.lat_to_y(F.greatest(e["y0"], e["y1"]), bits),
                ),
            )
        )
    else:
        # supercover WALK at the row resolution: sample each edge at
        # <= 1-cell steps in the dominant axis and emit the (<= 2x2)
        # cell bbox of each consecutive sample pair — the segment
        # between two samples lies inside their bbox, so the union is
        # a provable superset, and the count is O(edge length / cell)
        # even for one long diagonal edge (the per-edge-bbox form was
        # O(length^2) there). Combined with the rb degrade above the
        # per-row cover is <= ~budget + 4 * n_edges cells.
        cellw = F.lit(360.0 / (1 << bits)) * pw
        cellh = F.lit(180.0 / (1 << bits)) * pw

        def _walk(e):
            dx = e["x1"] - e["x0"]
            dy = e["y1"] - e["y0"]
            steps = F.greatest(
                F.lit(1),
                F.ceil(
                    F.greatest(F.abs(dx) / cellw, F.abs(dy) / cellh)
                ).cast("int"),
            )

            def px(sc):
                return e["x0"] + (sc.cast("double") / steps.cast("double")) * dx

            def py(sc):
                return e["y0"] + (sc.cast("double") / steps.cast("double")) * dy

            return F.flatten(
                F.transform(
                    F.sequence(F.lit(0), steps - 1),
                    lambda sc: _cell_arr(
                        shift(C.lon_to_x(F.least(px(sc), px(sc + 1)), bits)),
                        shift(
                            C.lon_to_x(F.greatest(px(sc), px(sc + 1)), bits)
                        ),
                        shift(C.lat_to_y(F.least(py(sc), py(sc + 1)), bits)),
                        shift(
                            C.lat_to_y(F.greatest(py(sc), py(sc + 1)), bits)
                        ),
                    ),
                )
            )

        edge_cells = F.flatten(F.transform(F.col("edges"), _walk))
    cells = F.when(wide_line, edge_cells).otherwise(bbox_cells)
    return out.withColumn(out_col, F.explode(cells))


def _seg_cross(a, b) -> Column:
    """Proper crossing of edge structs a and b: endpoints of each lie
    strictly on opposite sides of the other (orientation signs).
    Collinear configurations report no crossing (degenerate-touch
    semantics are tolerance-level, see module docstring)."""

    def cross(sx0, sy0, sx1, sy1, px, py):
        return (sx1 - sx0) * (py - sy0) - (sy1 - sy0) * (px - sx0)

    d1 = cross(a["x0"], a["y0"], a["x1"], a["y1"], b["x0"], b["y0"])
    d2 = cross(a["x0"], a["y0"], a["x1"], a["y1"], b["x1"], b["y1"])
    d3 = cross(b["x0"], b["y0"], b["x1"], b["y1"], a["x0"], a["y0"])
    d4 = cross(b["x0"], b["y0"], b["x1"], b["y1"], a["x1"], a["y1"])
    return ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))


def geom_intersects_col(
    a_edges: Column,
    b_edges: Column,
    a_has_interior: Column | bool,
    b_has_interior: Column | bool,
) -> Column:
    """`intersects(A, B)` over two edge arrays, pure JVM.

    A and B intersect iff any A vertex lies inside B (B polygonal),
    any B vertex lies inside A (A polygonal), or any edge pair
    properly crosses. Vertex containment is the even-odd
    `contains_col` aggregate, so holes and multipolygon unions are
    honored on both sides. Exact away from degenerate (collinear /
    boundary) configurations — the same tolerance class as the JTS
    evaluation in the reference's iterators.
    """
    a_int = F.lit(a_has_interior) if isinstance(a_has_interior, bool) else a_has_interior
    b_int = F.lit(b_has_interior) if isinstance(b_has_interior, bool) else b_has_interior
    a_vertex_in_b = b_int & (
        F.exists(a_edges, lambda e: GS.contains_col(b_edges, e["x0"], e["y0"]))
        | F.exists(a_edges, lambda e: GS.contains_col(b_edges, e["x1"], e["y1"]))
    )
    b_vertex_in_a = a_int & (
        F.exists(b_edges, lambda e: GS.contains_col(a_edges, e["x0"], e["y0"]))
        | F.exists(b_edges, lambda e: GS.contains_col(a_edges, e["x1"], e["y1"]))
    )
    crossing = F.exists(
        a_edges, lambda ae: F.exists(b_edges, lambda be: _seg_cross(ae, be))
    )
    return a_vertex_in_b | b_vertex_in_a | crossing


def is_polygonal_col(kind_col: Column) -> Column:
    return kind_col.isin(*POLY_KINDS)


def _layer_cover_pdf(
    bounds: list[tuple[float, float, float, float]], pid: str, bits: int
) -> list[pd.DataFrame]:
    """Driver-side MULTI-RESOLUTION cover rows (pcell, pbits,
    poly_id) for one layer polygon's bbox list: one row set per rb
    0..bits so budget-degraded data rows can match at their own
    resolution (coarser sets are geometrically smaller — the total
    is <= 4/3 of the finest)."""
    out = []
    for rb in range(bits + 1):
        cells_ = sorted({c for b in bounds for c in _bbox_cells(b, rb)})
        out.append(
            pd.DataFrame({"pcell": cells_, "pbits": rb, "poly_id": pid})
        )
    return out


def _candidate_pairs(
    covered: DataFrame,
    cov_df,
    id_col: str,
    cov_bits_col: str = "pbits",
) -> DataFrame:
    """(cell, resolution) equi-join of a budgeted data cover against
    a layer cover, deduped per (id, poly) BEFORE the refine — the
    non-point duplicate elimination of IndexSchema.scala:300-307,
    done pre-refine so the expensive predicate runs once per
    candidate pair."""
    return (
        covered.join(
            cov_df,
            (covered["_pcell"] == cov_df["pcell"])
            & (covered["_pbits"] == cov_df[cov_bits_col]),
            "inner",
        )
        .drop("_pcell", "_pbits", "pcell", cov_bits_col)
        .dropDuplicates([id_col, "poly_id"])
    )


def geom_join_broadcast(
    geoms: DataFrame,
    polys: list[tuple[str, str]],
    bits: int = 6,
    id_col: str = "gid",
    budget: int = DATA_CELL_BUDGET,
) -> DataFrame:
    """Geometry-vs-polygon-layer intersects join (broadcast layer).

    `geoms`: a `geom_table` output (any mix of points, lines,
    polygons). `polys`: [(poly_id, wkt)] query layer. Two phases,
    mirroring the PIP join generalized to non-point rows:

    1. coarse — bbox cell cover of each data geometry joined to the
       polygon layer's cell cover at the same resolution; data rows
       whose bbox exceeds `budget` cells at `bits` cover at a
       coarser per-row resolution and match the layer's cover rolled
       up to that resolution (cells are grid-prefix-nested, so the
       roll-up is exact); matches of a geometry to the same polygon
       via several cells are deduped *before* refining (the
       non-point duplicate elimination of IndexSchema.scala:300-307,
       done pre-refine so the expensive predicate runs once per
       (gid, poly_id) candidate);
    2. refine — exact `geom_intersects_col` between the data edge
       array and the broadcast polygon edge array.

    Returns the geoms columns + `poly_id`.
    """
    spark = geoms.sparkSession
    if not polys:
        return geoms.limit(0).withColumn("poly_id", F.lit(None).cast("string"))
    rows = []
    for pid, wkt in polys:
        # IDL-crossing polygons split first: their raw bounds are the
        # COMPLEMENT box and would cover nothing near the seam
        g = G.normalize_idl(G.parse_wkt(wkt))
        rows.extend(_layer_cover_pdf(G.member_bounds(g), pid, bits))
    cover = pd.concat(rows, ignore_index=True)
    cov_df = F.broadcast(
        spark.createDataFrame(cover, "pcell long, pbits int, poly_id string")
    )
    q_edges = F.broadcast(
        GS.poly_edges_df(spark, polys).withColumnRenamed("edges", "_q_edges")
    )
    covered = geom_cover_cells(geoms, bits, budget=budget)
    cand = _candidate_pairs(covered, cov_df, id_col)
    refined = cand.join(q_edges, "poly_id").filter(
        geom_intersects_col(
            F.col("edges"),
            F.col("_q_edges"),
            is_polygonal_col(F.col("kind")),
            True,
        )
    )
    return refined.drop("_q_edges")


def _bbox_cells(bounds: tuple[float, float, float, float], bits: int) -> list[int]:
    """Driver-side bbox cell cover (query-layer side, tiny)."""
    import numpy as np

    x0 = int(C.lon_to_x_np(np.asarray([bounds[0]]), bits)[0])
    x1 = int(C.lon_to_x_np(np.asarray([bounds[2]]), bits)[0])
    y0 = int(C.lat_to_y_np(np.asarray([bounds[1]]), bits)[0])
    y1 = int(C.lat_to_y_np(np.asarray([bounds[3]]), bits)[0])
    gx, gy = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
    return [int(c) for c in C.z2_encode_np(gx.ravel(), gy.ravel())]


def geom_scan(
    gdf: DataFrame,
    geometry_wkt: str,
    t0=None,
    t1=None,
    t0_exclusive: bool = False,
    t1_exclusive: bool = True,
    dtg_col: str = "dtg",
    week_col: str = "week",
) -> DataFrame:
    """Pruned scan of a geometry table: rows intersecting the query
    geometry (and, optionally, a time interval — the ST index's
    geometry+date key, SpatioTemporalTable.scala:38-46). Pushdown =
    bbox-overlap on the stored bbox columns plus the planner's time
    interval with week pruning from either bound
    (`planner.time_predicates`; plain comparisons that reach the
    parquet reader); refine = the exact JVM intersects against the
    query's edge literal. Per-member boxes keep IDL-split query
    polygons selective."""
    q = G.normalize_idl(G.parse_wkt(geometry_wkt))
    box_pred = None
    for qxmin, qymin, qxmax, qymax in G.member_bounds(q):
        p = (
            (F.col("xmin") <= F.lit(qxmax))
            & (F.col("xmax") >= F.lit(qxmin))
            & (F.col("ymin") <= F.lit(qymax))
            & (F.col("ymax") >= F.lit(qymin))
        )
        box_pred = p if box_pred is None else box_pred | p
    out = gdf.filter(box_pred)
    for p in time_predicates(
        dtg_col, t0, t1, t0_exclusive, t1_exclusive,
        week_col if week_col in gdf.columns else None,
    ):
        out = out.filter(p)
    return out.filter(
        geom_intersects_col(
            F.col("edges"),
            GS.edges_lit(q),
            is_polygonal_col(F.col("kind")),
            q.kind in POLY_KINDS,
        )
    )


def write_geoms_bucketed(
    geoms: DataFrame,
    table_name: str,
    bits: int,
    budget: int = DATA_CELL_BUDGET,
    n_buckets: int = 64,
    clear_stale_location: bool = False,
) -> None:
    """Materialize a geom_table output as its EXPLODED cell cover,
    bucketed + sorted on the cell key — the Spark analog of the ST
    index writing one row per covering geohash per geometry
    (SpatioTemporalTable.scala:38-46; multi-cell rows deduped at
    query time, IndexSchema.scala:300-307). Pair with
    `spatial_join.write_cover_bucketed` at the same bits/n_buckets
    for `geom_join_bucketed`'s shuffle-free join."""
    from geomesa_spark.sources.bucketed import write_bucketed

    covered = (
        geom_cover_cells(geoms, bits, budget=budget)
        .withColumnRenamed("_pcell", "pcell")
        .withColumnRenamed("_pbits", "pbits")
    )
    write_bucketed(
        covered, table_name, bucket_col="pcell", n_buckets=n_buckets,
        clear_stale_location=clear_stale_location,
    )


def geom_join_bucketed(
    spark,
    geoms_table: str,
    cover_table: str,
    polys: DataFrame,
    bits: int,
    id_col: str = "gid",
    poly_id_col: str = "poly_id",
    wkt_col: str = "geom_wkt",
) -> DataFrame:
    """Geometry-layer intersects join over CO-BUCKETED tables.

    `geoms_table` comes from `write_geoms_bucketed`, `cover_table`
    from `spatial_join.write_cover_bucketed`, both at the same `bits`
    and bucket count: the candidate join is then a per-bucket local
    sort-merge with NO shuffle of either table. Budget-degraded DATA
    rows (pbits < bits) join their few coarse cells against the
    cover rolled up to their resolution as a BROADCAST hash join —
    still no shuffle of the geometry table. The only Exchange in the
    plan is the (gid, poly_id) candidate dedup, which runs on the
    coarse-candidate set, not the table (the IndexSchema.scala:
    300-307 dedup; a point table never needs it, a multi-cell
    geometry row does).

    The COVER side must be single-resolution at `bits` (raise
    otherwise — a budget-degraded polygon layer needs
    `geom_join_partitioned`).
    """
    from geomesa_spark.operators.spatial_join import _distributed_edges

    g = spark.table(geoms_table)
    cov = spark.table(cover_table)
    cov_pbits = [r.pbits for r in cov.select("pbits").distinct().collect()]
    if not cov_pbits:
        # empty layer: empty result with the join's schema, matching
        # every other join path (raising here would make the bucketed
        # path the one place an empty-layer pipeline crashes)
        return g.limit(0).withColumn("poly_id", F.lit(None).cast("string"))
    if cov_pbits != [bits]:
        raise ValueError(
            f"cover table {cover_table} has resolutions {sorted(cov_pbits)}; "
            f"geom_join_bucketed needs a single-resolution cover at "
            f"bits={bits} (raise the cover budget or use "
            f"geom_join_partitioned)"
        )
    cov = cov.select("pcell", "poly_id")
    edges = F.broadcast(
        _distributed_edges(polys, poly_id_col, wkt_col).withColumnRenamed(
            "edges", "_q_edges"
        )
    )

    cand = g.filter(F.col("pbits") == bits).join(cov, "pcell")
    data_rbs = [
        r.pbits
        for r in g.select("pbits").distinct().collect()
        if r.pbits != bits
    ]
    for rb in data_rbs:
        cov_rb = F.broadcast(
            cov.select(
                C.cell_parent(F.col("pcell"), bits, int(rb)).alias("pcell"),
                "poly_id",
            ).dropDuplicates()
        )
        cand = cand.unionByName(
            g.filter(F.col("pbits") == rb).join(cov_rb, "pcell")
        )
    refined = (
        cand.drop("pcell", "pbits")
        .dropDuplicates([id_col, "poly_id"])
        .join(edges, "poly_id")
        .filter(
            geom_intersects_col(
                F.col("edges"),
                F.col("_q_edges"),
                is_polygonal_col(F.col("kind")),
                True,
            )
        )
    )
    return refined.drop("_q_edges")


def write_geom_table(
    gdf: DataFrame, path: str, bits: int = 8, partitions: int | None = None
) -> None:
    """Persist a geometry table laid out for pruned scans: rows are
    range-partitioned and sorted by the Z2 cell of the bbox center,
    so spatially-close geometries share files/row groups and the
    xmin/ymin/xmax/ymax column min/max stats become selective —
    `geom_scan`'s bbox predicates then skip row groups the same way
    the point tables' cell ranges do (the ST-index key order
    analog)."""
    cx = (F.col("xmin") + F.col("xmax")) * 0.5
    cy = (F.col("ymin") + F.col("ymax")) * 0.5
    keyed = gdf.withColumn("_sort_cell", C.z2_cell(cx, cy, bits))
    if partitions:
        keyed = keyed.repartitionByRange(partitions, "_sort_cell")
    else:
        keyed = keyed.repartitionByRange("_sort_cell")
    keyed.sortWithinPartitions("_sort_cell").drop("_sort_cell").write.mode(
        "overwrite"
    ).parquet(path)


_pt_seg_d2 = GS.pt_seg_d2_col  # shared clamped-projection kernel


def _seg_seg_d2_col(a, b) -> Column:
    """Squared distance between two edge structs: 0 on proper
    crossing, else min of the four endpoint-to-other-segment
    distances (exact for non-degenerate segments)."""
    d = F.least(
        _pt_seg_d2(a["x0"], a["y0"], b),
        _pt_seg_d2(a["x1"], a["y1"], b),
        _pt_seg_d2(b["x0"], b["y0"], a),
        _pt_seg_d2(b["x1"], b["y1"], a),
    )
    return F.when(_seg_cross(a, b), F.lit(0.0)).otherwise(d)


def geom_dwithin_col(
    a_edges: Column,
    b_edges: Column,
    dist_deg: float | Column,
    a_has_interior: Column | bool,
    b_has_interior: Column | bool,
) -> Column:
    """`distance(A, B) <= dist_deg` over two edge arrays, pure JVM —
    the dwithin generalization the reference reaches through JTS for
    non-point geometries (buffer+decompose rewrite
    FilterHelper.scala:127-145; exact evaluation in the iterators).
    Intersecting geometries (including interior containment) are
    distance zero; otherwise the boundary-to-boundary minimum
    decides. numpy twin: functions.geometry.geom_dwithin."""
    d = F.lit(dist_deg) if isinstance(dist_deg, (int, float)) else dist_deg
    d2 = d * d
    near = F.exists(
        a_edges,
        lambda ae: F.exists(b_edges, lambda be: _seg_seg_d2_col(ae, be) <= d2),
    )
    return (
        geom_intersects_col(a_edges, b_edges, a_has_interior, b_has_interior)
        | near
    )


def geom_dwithin_join(
    geoms: DataFrame,
    polys: list[tuple[str, str]],
    dist: float,
    bits: int = 6,
    id_col: str = "gid",
    dist_in_meters: bool = False,
) -> DataFrame:
    """Proximity join for non-point data rows: geometries within
    `dist` of any layer polygon. Coarse phase = bbox cell cover of
    the data geometry joined to the layer's cover cells expanded by
    the distance buffer; exact refine = `geom_dwithin_col`.

    `dist_in_meters=True` applies the reference's meters->degrees
    rewrite per polygon at its bbox-center latitude
    (FilterHelper.scala:104-145 buffer+decompose for non-point
    geometries: the evaluation happens in degree space on a
    conservative buffer, exactly as the reference's JTS path does
    after its own degree conversion). Returns geoms columns +
    poly_id."""
    spark = geoms.sparkSession
    if not polys:
        return geoms.limit(0).withColumn("poly_id", F.lit(None).cast("string"))
    rows = []
    dists = []
    for pid, wkt in polys:
        g = G.normalize_idl(G.parse_wkt(wkt))
        if dist_in_meters:
            # SINGLE-step conversion at the geometry's own poleward
            # extreme — reference parity with
            # GeometryUtils.distanceDegrees (corner-latitude geodesic
            # east span, no sub-pole clamp: capping at 89° would
            # under-buffer high-latitude layers ~5x at 89.8°). For
            # this planar refine the converted value IS the match
            # radius, so a poleward two-step here would be a
            # different predicate than the reference evaluates.
            mbs = G.member_bounds(g)
            lat_ext = max(abs(min(b[1] for b in mbs)),
                          abs(max(b[3] for b in mbs)))
            dist_deg = G.meters_to_degrees(dist, lat_ext)
        else:
            dist_deg = dist
        dists.append((pid, float(dist_deg)))
        # flat expansion, clamped: the refine (geom_dwithin_col)
        # measures PLANAR (lon,lat) distance, under which the far
        # side of the dateline is ~360° away — so no IDL wrap is
        # needed for consistency (unlike the haversine point paths)
        buffered = [
            (
                max(b[0] - dist_deg, -180.0),
                max(b[1] - dist_deg, -90.0),
                min(b[2] + dist_deg, 180.0),
                min(b[3] + dist_deg, 90.0),
            )
            for b in G.member_bounds(g)
        ]
        rows.extend(_layer_cover_pdf(buffered, pid, bits))
    cover = pd.concat(rows, ignore_index=True)
    cov_df = F.broadcast(
        spark.createDataFrame(cover, "pcell long, pbits int, poly_id string")
    )
    q_edges = F.broadcast(
        GS.poly_edges_df(spark, polys)
        .withColumnRenamed("edges", "_q_edges")
        .join(
            spark.createDataFrame(dists, "poly_id string, _q_dist double"),
            "poly_id",
        )
    )
    covered = geom_cover_cells(geoms, bits, budget=DATA_CELL_BUDGET)
    cand = _candidate_pairs(covered, cov_df, id_col)
    refined = cand.join(q_edges, "poly_id").filter(
        geom_dwithin_col(
            F.col("edges"),
            F.col("_q_edges"),
            F.col("_q_dist"),
            is_polygonal_col(F.col("kind")),
            True,
        )
    )
    return refined.drop("_q_edges", "_q_dist")


def geom_join_partitioned(
    geoms: DataFrame,
    polys: DataFrame,
    bits: int = 6,
    budget: int = 256,
    id_col: str = "gid",
    poly_id_col: str = "poly_id",
    wkt_col: str = "geom_wkt",
) -> DataFrame:
    """Geometry-vs-polygon intersects join with a LARGE polygon
    layer (DataFrame): the non-point generalization of
    pip_join_partitioned.

    The layer's cell cover is computed distributed (mapInPandas
    polyfill, multi-resolution groups for budget-degraded members —
    spatial_join._distributed_cover); the data side explodes each
    geometry's bbox cells at the group resolution, with rows whose
    bbox exceeds `data_budget` cells degrading to a coarser per-row
    resolution (the layer cover rolls up to each data resolution via
    exact parent-cell dedup); both sides shuffle on the
    (cell, resolution) key. Candidates dedup per (gid, poly_id)
    BEFORE the refine (IndexSchema.scala:300-307), then the exact
    nested-HOF intersects runs once per candidate pair. Data-side
    skew is intrinsically milder than the point case (a geometry
    spreads over its bbox cells); AQE skew-join covers the rest.
    """
    from geomesa_spark.operators.spatial_join import (
        _cover_resolution_set,
        _distributed_cover,
        _distributed_edges,
    )

    data_budget = DATA_CELL_BUDGET
    # the geom table feeds the rb-detection job plus one cover+join
    # per resolution group: checkpoint lazily so the (expensive) WKT
    # parse runs once, not once per consumer
    geoms = geoms.localCheckpoint(eager=False)
    cover = _distributed_cover(
        polys, bits, budget, poly_id_col=poly_id_col, wkt_col=wkt_col
    )
    pbits_vals = _cover_resolution_set(polys, bits, budget, wkt_col=wkt_col)
    # distinct per-row DATA resolutions, ALL groups in ONE job (one
    # rb column per group, distinct over the tuple)
    data_rbs: dict[int, list[int]] = {int(pb): [] for pb in pbits_vals}
    if pbits_vals:
        rb_rows = (
            geoms.select(
                *[
                    row_rbits_col(int(pb), data_budget).alias(f"rb_{pb}")
                    for pb in pbits_vals
                ]
            )
            .distinct()
            .collect()
        )
        for pb in pbits_vals:
            vals = sorted({int(r[f"rb_{pb}"]) for r in rb_rows})
            data_rbs[int(pb)] = vals or [int(pb)]
    if len(pbits_vals) > 1 or any(len(v) > 1 for v in data_rbs.values()):
        # several resolution groups / roll-ups would re-run the
        # distributed polyfill once per filter: materialize it once
        cover = cover.localCheckpoint(eager=True)
    q_edges = F.broadcast(
        _distributed_edges(polys, poly_id_col, wkt_col).withColumnRenamed(
            "edges", "_q_edges"
        )
    )
    out = None
    for pb in pbits_vals:
        cov_grp = cover.filter(F.col("pbits") == pb).select("pcell", "poly_id")
        # layer cover at every data resolution in this group: the
        # roll-up (parent cells of the pb cover, deduped) is the
        # EXACT rb cover — an rb cell intersects the polygon's bbox
        # region iff it contains an intersecting pb cell
        cov_multi = None
        for rb in data_rbs[int(pb)]:
            if rb == int(pb):
                part = cov_grp.withColumn("_cbits", F.lit(int(rb)))
            else:
                part = (
                    cov_grp.select(
                        C.cell_parent(F.col("pcell"), int(pb), int(rb)).alias(
                            "pcell"
                        ),
                        "poly_id",
                    )
                    .dropDuplicates()
                    .withColumn("_cbits", F.lit(int(rb)))
                )
            cov_multi = part if cov_multi is None else cov_multi.unionByName(part)
        covered = geom_cover_cells(geoms, int(pb), budget=data_budget)
        cand = _candidate_pairs(
            covered, cov_multi, id_col, cov_bits_col="_cbits"
        )
        refined = cand.join(q_edges, "poly_id").filter(
            geom_intersects_col(
                F.col("edges"),
                F.col("_q_edges"),
                is_polygonal_col(F.col("kind")),
                True,
            )
        ).drop("_q_edges")
        out = refined if out is None else out.unionByName(refined)
    if out is None:  # empty polygon layer: empty result, valid schema
        return geoms.limit(0).withColumn(
            "poly_id", F.lit(None).cast("string")
        )
    return out
