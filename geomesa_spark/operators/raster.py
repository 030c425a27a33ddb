"""Raster ↔ vector alignment: resolution selection, tile cover scan,
tile-assignment join, mosaic.

Reference model: raster tiles are keyed `lexi(resolution)~geohash`
(geomesa-raster/src/main/scala/org/locationtech/geomesa/raster/index/RasterEntry.scala:70-74);
a query picks the best available resolution then scans the geohash
cover of its bbox (…/raster/data/AccumuloRasterQueryPlanner.scala:49-93),
and the client crops/assembles chunks into one mosaic grid
(…/raster/util/RasterUtils.scala:101-189).

Spark model: a tile table `(res_bits:int, cell:long, px:int, py:int,
tile:array<double>)` — one row per tile, `cell` the Z2 id at
`res_bits` per-dim resolution, `tile` a row-major px*py numeric grid
covering the cell's lon/lat extent. Alignment to vectors is a pure
equi-join on the parent cell (`cell_parent`), the same shape as the
spatial joins — so Iceberg/parquet partitioning by (res_bits, cell)
prunes tile scans exactly like the reference's row ranges. The
mosaic is a per-query `applyInPandas` over the covering tiles
(vectorized numpy crop + nearest-neighbor scale — no image libs).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_spark.functions import cells as C

TILE_SCHEMA = T.StructType(
    [
        T.StructField("res_bits", T.IntegerType()),
        T.StructField("cell", T.LongType()),
        T.StructField("px", T.IntegerType()),
        T.StructField("py", T.IntegerType()),
        T.StructField("tile", T.ArrayType(T.DoubleType())),
    ]
)


def select_resolution(suggested_bits: int, available_bits: list[int]) -> int:
    """Pick the stored resolution for a query.

    Parity with AccumuloRasterQueryPlanner.selectResolution
    (:94-106): prefer the coarsest stored resolution that is at least
    as fine as requested; if none is fine enough, take the finest
    available. (The reference phrases this in degrees-per-pixel where
    finer == smaller; with `bits` finer == larger, so the comparisons
    flip.)
    """
    if not available_bits:
        raise ValueError("no stored resolutions")
    if len(available_bits) == 1:
        return available_bits[0]
    finer = [b for b in available_bits if b >= suggested_bits]
    return min(finer) if finer else max(available_bits)


def cell_bounds(cell: int, bits: int) -> tuple[float, float, float, float]:
    """lon/lat extent of a Z2 cell at `bits` per-dim resolution."""
    ix, iy = C.z2_decode_np(np.asarray([cell], dtype=np.int64))
    lo_x, hi_x = C.x_to_lon_range(ix, bits)
    lo_y, hi_y = C.y_to_lat_range(iy, bits)
    return float(lo_x[0]), float(lo_y[0]), float(hi_x[0]), float(hi_y[0])


def tile_cover_scan(
    tiles: DataFrame, bbox: tuple[float, float, float, float], res_bits: int
) -> DataFrame:
    """Tiles of one resolution whose cells intersect the bbox.

    Pure column predicates on (res_bits, cell-derived x/y range) so
    the scan prunes partitions/row groups — the geohash-range scan
    analog (AccumuloRasterQueryPlanner.scala:49-93).
    """
    n = 1 << res_bits
    xmin, ymin, xmax, ymax = bbox
    ix0 = max(0, int(np.floor((xmin + 180.0) / 360.0 * n)))
    ix1 = min(n - 1, int(np.floor((xmax + 180.0) / 360.0 * n)))
    iy0 = max(0, int(np.floor((ymin + 90.0) / 180.0 * n)))
    iy1 = min(n - 1, int(np.floor((ymax + 90.0) / 180.0 * n)))
    lo = int(C.z2_encode_np(np.asarray([ix0]), np.asarray([iy0]))[0])
    hi = int(C.z2_encode_np(np.asarray([ix1]), np.asarray([iy1]))[0])
    # z-range [lo,hi] is a superset pre-filter; the exact per-dim
    # check below removes the z-curve's in-range excursions
    out = tiles.filter(
        (F.col("res_bits") == res_bits) & F.col("cell").between(lo, hi)
    )
    # exact: de-interleave via the shared column squash (cells.py
    # owns both directions of the Morton transform — a re-typed
    # private copy of the masks here could silently drift)
    ix = C.squash2_col(F.col("cell"))
    iy = C.squash2_col(F.shiftrightunsigned(F.col("cell"), 1))
    return out.filter(ix.between(ix0, ix1) & iy.between(iy0, iy1))


def tile_assignments(
    points: DataFrame,
    res_bits: int,
    cell_col: str = "cell",
    cell_bits: int = C.XY_BITS,
) -> DataFrame:
    """Vector→tile alignment: each point mapped to its covering tile
    cell at `res_bits` (the raster↔vector equi-join key)."""
    return points.withColumn(
        "tile_cell", C.cell_parent(F.col(cell_col), cell_bits, res_bits)
    )


def raster_vector_join(
    points: DataFrame,
    tiles: DataFrame,
    res_bits: int,
    cell_col: str = "cell",
    cell_bits: int = C.XY_BITS,
) -> DataFrame:
    """Join points to the tile covering them at `res_bits`.

    Equi-join on the parent cell with the tile level broadcast: the
    caller passes the tile layer for the query region (typically one
    resolution × region cover), which must fit in a broadcast."""
    t = tiles.filter(F.col("res_bits") == res_bits).select(
        F.col("cell").alias("tile_cell"), "px", "py", "tile"
    )
    pts = tile_assignments(points, res_bits, cell_col, cell_bits)
    return pts.join(F.broadcast(t), "tile_cell", "inner")


def synth_tiles(
    spark, res_bits: int, px: int = 16, py: int = 16, limit_cells: int | None = None
) -> DataFrame:
    """Deterministic synthetic tile pyramid level: value at pixel =
    f(cell, i, j) via splitmix-style arithmetic (distributed, no
    driver data)."""
    n = 1 << res_bits
    total = n * n if limit_cells is None else limit_cells

    def gen(batches):
        for pdf in batches:
            cells = pdf["id"].to_numpy()
            ix = cells % n
            iy = cells // n
            zc = C.z2_encode_np(ix, iy)
            rows = []
            for k, cell in enumerate(zc):
                # uint64 wraparound is the DEFINED mixing step
                # (the oracle reproduces it as HUGEINT mod 2^64)
                with np.errstate(over="ignore"):
                    base = (
                        np.uint64(cell) * np.uint64(0x9E3779B97F4A7C15)
                    ) >> np.uint64(40)
                grid = (
                    float(base)
                    + np.add.outer(np.arange(py) * 0.01, np.arange(px) * 0.0001)
                ).ravel()
                rows.append(
                    (res_bits, int(cell), px, py, np.asarray(grid, dtype=np.float64).ravel().tolist())
                )
            yield pd.DataFrame(
                rows, columns=["res_bits", "cell", "px", "py", "tile"]
            )

    return spark.range(0, total, 1, max(spark.sparkContext.defaultParallelism, 4)).mapInPandas(
        gen, schema=TILE_SCHEMA
    )


def mosaic(
    tiles: DataFrame,
    bbox: tuple[float, float, float, float],
    res_bits: int,
    out_w: int,
    out_h: int,
    driver_max_pixels: int = 4_000_000,
) -> np.ndarray:
    """Assemble the tiles covering `bbox` into one out_h×out_w grid.

    Parity with RasterUtils.mosaicChunks/cropRaster/scaleBufferedImage
    (:101-189): crop each tile to the query envelope, place it at its
    pixel offset, nearest-neighbor scale to the target size. The
    heavy per-tile crop work runs distributed (mapInPandas producing
    placed fragments).

    Assembly has two paths, chosen by the native canvas size (query
    extent at the level's deg-per-pixel — mosaicChunks:126-128):

    * small (≤ `driver_max_pixels`): fragments collect to the driver
      and paste there — the reference's client-side mosaic split
      (tablet scan + client mosaicChunks).
    * large: block-wise distributed assembly (`mosaic_blocks`) — crop
      fragments are split along a block grid, each block pasted by one
      `applyInPandas` group, and only the out_h×out_w nearest-neighbor
      *samples* ever reach the driver. A wall-size native canvas never
      materializes in one place.
    """
    cov = tile_cover_scan(tiles, bbox, res_bits)
    xmin, ymin, xmax, ymax = bbox
    # pixel dims come from the tiles themselves (chunks at one
    # resolution share dimensions, as in the reference format)
    first = cov.select("px", "py").first()
    if first is None:
        return np.zeros((out_h, out_w))
    tile_px, tile_py = int(first.px), int(first.py)

    # native mosaic size: query extent at the level's deg-per-pixel
    n = 1 << res_bits
    rx = (360.0 / n) / tile_px
    ry = (180.0 / n) / tile_py
    mw = max(int(round((xmax - xmin) / rx)), 1)
    mh = max(int(round((ymax - ymin) / ry)), 1)

    if mw * mh > driver_max_pixels:
        return _mosaic_sampled(
            mosaic_blocks(cov, bbox, res_bits, tile_px, tile_py),
            out_w, out_h, mw, mh,
        )

    frag_schema = T.StructType(
        [
            T.StructField("ox", T.IntegerType()),
            T.StructField("oy", T.IntegerType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("data", T.ArrayType(T.DoubleType())),
        ]
    )

    def crop(batches):
        for pdf in batches:
            out = []
            for _, r in pdf.iterrows():
                cx0, cy0, cx1, cy1 = cell_bounds(int(r.cell), res_bits)
                px, py = int(r.px), int(r.py)
                rx = (cx1 - cx0) / px  # deg per pixel
                ry = (cy1 - cy0) / py
                # intersection of tile extent and query envelope
                ix0, ix1 = max(cx0, xmin), min(cx1, xmax)
                iy0, iy1 = max(cy0, ymin), min(cy1, ymax)
                if ix1 <= ix0 or iy1 <= iy0:
                    continue
                # pixel window inside the tile (row 0 = top = max lat)
                ul_x = max(int(np.floor((ix0 - cx0) / rx)), 0)
                ul_y = max(int(np.floor((cy1 - iy1) / ry)), 0)
                w = min(int(np.ceil((ix1 - ix0) / rx)), px - ul_x)
                h = min(int(np.ceil((iy1 - iy0) / ry)), py - ul_y)
                if w <= 0 or h <= 0:
                    continue
                grid = np.asarray(r.tile, dtype=np.float64).reshape(py, px)
                sub = grid[ul_y : ul_y + h, ul_x : ul_x + w]
                # placement offset in mosaic pixel space
                ox = int(np.floor((ix0 - xmin) / rx))
                oy = int(np.floor((ymax - iy1) / ry))
                out.append((ox, oy, w, h, sub.ravel().astype(np.float64).tolist()))
            yield pd.DataFrame(out, columns=["ox", "oy", "w", "h", "data"])

    # driver-side collect is BOUNDED BY OUTPUT PIXELS, not input
    # tiles: each fragment is a crop to the query window, so the sum
    # of fragment payloads <= mosaic canvas size (plus per-fragment
    # row overhead). This mirrors the reference's client-side mosaic
    # (RasterStore mosaicChunks) — fine as long as callers size the
    # query window to something a driver can hold, same as there.
    frags = cov.mapInPandas(crop, schema=frag_schema).collect()
    if not frags:
        return np.zeros((out_h, out_w))
    canvas = np.zeros((mh, mw))
    for f in frags:
        h, w = int(f.h), int(f.w)
        sub = np.asarray(f.data, dtype=np.float64).reshape(h, w)
        y0, x0 = int(f.oy), int(f.ox)
        y1, x1 = min(y0 + h, mh), min(x0 + w, mw)
        if y1 > y0 and x1 > x0:
            canvas[y0:y1, x0:x1] = sub[: y1 - y0, : x1 - x0]
    # nearest-neighbor scale to the requested output size
    yi = np.minimum((np.arange(out_h) * mh / out_h).astype(int), mh - 1)
    xi = np.minimum((np.arange(out_w) * mw / out_w).astype(int), mw - 1)
    return canvas[np.ix_(yi, xi)]


BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("bx", T.IntegerType()),
        T.StructField("by", T.IntegerType()),
        T.StructField("bw", T.IntegerType()),
        T.StructField("bh", T.IntegerType()),
        T.StructField("data", T.ArrayType(T.DoubleType())),
    ]
)


def mosaic_blocks(
    cov: DataFrame,
    bbox: tuple[float, float, float, float],
    res_bits: int,
    tile_px: int,
    tile_py: int,
    block: int = 1024,
) -> DataFrame:
    """Distributed mosaic assembly: the native-resolution canvas as a
    DataFrame of `block`×`block` pixel blocks.

    The crop stage (mapInPandas) slices each covering tile against the
    query envelope AND the block grid, emitting per-block fragments;
    one `applyInPandas` group per (bx, by) pastes its fragments into a
    block canvas. No single process ever holds more than one block —
    wall-size canvases (the reference's client-side mosaicChunks limit,
    RasterUtils.scala:101-189) become a parquet-writable block table
    instead of a driver allocation.

    `cov` must already be filtered to one resolution (tile_cover_scan).
    Rows: (bx, by, bw, bh, data[row-major bh×bw]).
    """
    xmin, ymin, xmax, ymax = bbox
    n = 1 << res_bits
    rx = (360.0 / n) / tile_px
    ry = (180.0 / n) / tile_py
    mw = max(int(round((xmax - xmin) / rx)), 1)
    mh = max(int(round((ymax - ymin) / ry)), 1)

    frag_schema = T.StructType(
        [
            T.StructField("bx", T.IntegerType()),
            T.StructField("by", T.IntegerType()),
            T.StructField("ox", T.IntegerType()),  # absolute canvas px
            T.StructField("oy", T.IntegerType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("data", T.ArrayType(T.DoubleType())),
        ]
    )

    def crop_blocks(batches):
        for pdf in batches:
            out = []
            for _, r in pdf.iterrows():
                cx0, cy0, cx1, cy1 = cell_bounds(int(r.cell), res_bits)
                px, py = int(r.px), int(r.py)
                trx = (cx1 - cx0) / px
                try_ = (cy1 - cy0) / py
                ix0, ix1 = max(cx0, xmin), min(cx1, xmax)
                iy0, iy1 = max(cy0, ymin), min(cy1, ymax)
                if ix1 <= ix0 or iy1 <= iy0:
                    continue
                ul_x = max(int(np.floor((ix0 - cx0) / trx)), 0)
                ul_y = max(int(np.floor((cy1 - iy1) / try_)), 0)
                w = min(int(np.ceil((ix1 - ix0) / trx)), px - ul_x)
                h = min(int(np.ceil((iy1 - iy0) / try_)), py - ul_y)
                if w <= 0 or h <= 0:
                    continue
                grid = np.asarray(r.tile, dtype=np.float64).reshape(py, px)
                sub = grid[ul_y : ul_y + h, ul_x : ul_x + w]
                ox = int(np.floor((ix0 - xmin) / trx))
                oy = int(np.floor((ymax - iy1) / try_))
                # clip to canvas, then split along the block grid
                x1c, y1c = min(ox + w, mw), min(oy + h, mh)
                if x1c <= ox or y1c <= oy:
                    continue
                sub = sub[: y1c - oy, : x1c - ox]
                for by in range(oy // block, (y1c - 1) // block + 1):
                    fy0, fy1 = max(oy, by * block), min(y1c, (by + 1) * block)
                    for bx in range(ox // block, (x1c - 1) // block + 1):
                        fx0, fx1 = max(ox, bx * block), min(x1c, (bx + 1) * block)
                        piece = sub[fy0 - oy : fy1 - oy, fx0 - ox : fx1 - ox]
                        out.append(
                            (
                                bx, by, fx0, fy0,
                                fx1 - fx0, fy1 - fy0,
                                piece.ravel().astype(np.float64).tolist(),
                            )
                        )
            yield pd.DataFrame(
                out, columns=["bx", "by", "ox", "oy", "w", "h", "data"]
            )

    def assemble(key, pdf):
        bx, by = int(key[0]), int(key[1])
        bw = min(block, mw - bx * block)
        bh = min(block, mh - by * block)
        canvas = np.zeros((bh, bw))
        for _, f in pdf.iterrows():
            h, w = int(f.h), int(f.w)
            y0, x0 = int(f.oy) - by * block, int(f.ox) - bx * block
            canvas[y0 : y0 + h, x0 : x0 + w] = np.asarray(
                f.data, dtype=np.float64
            ).reshape(h, w)
        return pd.DataFrame(
            [(bx, by, bw, bh, canvas.ravel().astype(np.float64).tolist())],
            columns=["bx", "by", "bw", "bh", "data"],
        )

    frags = cov.mapInPandas(crop_blocks, schema=frag_schema)
    return frags.groupBy("bx", "by").applyInPandas(assemble, schema=BLOCK_SCHEMA)


def _mosaic_sampled(
    blocks: DataFrame,
    out_w: int,
    out_h: int,
    mw: int,
    mh: int,
    block: int = 1024,
) -> np.ndarray:
    """Nearest-neighbor downsample a block table to out_h×out_w.

    Each block emits only the output samples whose source pixel falls
    inside it, so the driver receives ≤ out_h*out_w values regardless
    of native canvas size.
    """
    yi = np.minimum((np.arange(out_h) * mh / out_h).astype(int), mh - 1)
    xi = np.minimum((np.arange(out_w) * mw / out_w).astype(int), mw - 1)

    sample_schema = T.StructType(
        [
            T.StructField("oy", T.IntegerType()),
            T.StructField("ox", T.IntegerType()),
            T.StructField("v", T.DoubleType()),
        ]
    )

    def sample(batches):
        for pdf in batches:
            out = []
            for _, b in pdf.iterrows():
                bx, by, bw, bh = int(b.bx), int(b.by), int(b.bw), int(b.bh)
                y0, x0 = by * block, bx * block
                grid = np.asarray(b.data, dtype=np.float64).reshape(bh, bw)
                ys = np.nonzero((yi >= y0) & (yi < y0 + bh))[0]
                xs = np.nonzero((xi >= x0) & (xi < x0 + bw))[0]
                for i in ys:
                    row = grid[yi[i] - y0]
                    for j in xs:
                        out.append((int(i), int(j), float(row[xi[j] - x0])))
            yield pd.DataFrame(out, columns=["oy", "ox", "v"])

    out = np.zeros((out_h, out_w))
    for r in blocks.mapInPandas(sample, schema=sample_schema).collect():
        out[r.oy, r.ox] = r.v
    return out


def zonal_pixel_stats(
    tiles: DataFrame,
    zones: list[tuple[str, str]],
    res_bits: int,
    value_scale: int = 1_000_000,
    bits: int = 8,
) -> DataFrame:
    """Raster zonal statistics: per-polygon aggregates of the PIXEL
    values under each zone — the classic "mean raster value per
    district" (GeoTools' ZonalStats process runs it client-side per
    coverage; here the raster stays distributed).

    Pipeline, all-JVM: tiles of the resolution de-interleave their
    cell (``cells.squash2_col`` — the shared Morton inverse),
    posexplode the pixel array (fan-out px·py per tile, the raster's
    own size), derive each pixel CENTER's lon/lat arithmetically,
    and feed the centers through the broadcast PIP join; one
    partial-aggregated groupBy per zone finishes.  Pixel-center
    membership is the standard raster zonal convention (no partial-
    pixel area weighting — document, don't approximate silently).

    Determinism: center coordinates are exact double arithmetic
    ((i + (c+0.5)/px) / n · 360 − 180); count/min/max exact; the sum
    is int64 fixed point (Σ floor(v·value_scale)) and `mean_fp` one
    division of canonical integers — the zonal_stats contract.

    Returns (zone, n_px, vmin, vmax, sum_fp, mean_fp)."""
    from geomesa_spark.operators.spatial_join import pip_join_broadcast

    n = 1 << res_bits
    t = tiles.filter(F.col("res_bits") == res_bits)
    ix = C.squash2_col(F.col("cell"))
    iy = C.squash2_col(F.shiftrightunsigned(F.col("cell"), 1))
    ex = t.select(
        ix.alias("_ix"), iy.alias("_iy"), "px", "py",
        F.posexplode(F.col("tile")).alias("_p", "_v"),
    )
    r = F.floor(F.col("_p") / F.col("px")).cast("long")
    c = F.pmod(F.col("_p"), F.col("px")).cast("long")
    lon = (
        (F.col("_ix").cast("double")
         + (c.cast("double") + F.lit(0.5)) / F.col("px").cast("double"))
        / F.lit(float(n)) * F.lit(360.0) - F.lit(180.0)
    )
    lat = (
        (F.col("_iy").cast("double")
         + (r.cast("double") + F.lit(0.5)) / F.col("py").cast("double"))
        / F.lit(float(n)) * F.lit(180.0) - F.lit(90.0)
    )
    pts = ex.select(
        lon.alias("lon"), lat.alias("lat"), F.col("_v").alias("v")
    ).withColumn("cell", C.z2_cell(F.col("lon"), F.col("lat")))
    joined = pip_join_broadcast(pts, zones, bits=bits)
    vfp = F.floor(F.col("v") * F.lit(float(value_scale))).cast("long")
    return (
        joined.withColumn("_vfp", vfp)
        .groupBy(F.col("poly_id").alias("zone"))
        .agg(
            F.count("*").cast("long").alias("n_px"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
            F.sum("_vfp").alias("sum_fp"),
        )
        .withColumn(
            "mean_fp",
            F.col("sum_fp").cast("double") / F.col("n_px").cast("double"),
        )
    )


# local map algebra ops: elementwise (a, b) -> value, all pure-JVM
# zip_with lambdas; 'div'/'ndiff' go NULL on a zero denominator
_ALGEBRA_OPS = {
    "add": lambda a, b: a + b,
    "sub": lambda a, b: a - b,
    "mul": lambda a, b: a * b,
    "div": lambda a, b: F.when(b != 0.0, a / b),
    "min": lambda a, b: F.least(a, b),
    "max": lambda a, b: F.greatest(a, b),
    # normalized difference (the NDVI shape)
    "ndiff": lambda a, b: F.when((a + b) != 0.0, (a - b) / (a + b)),
}


def map_algebra(
    layer_a: DataFrame,
    layer_b: DataFrame,
    op: str,
    how: str = "inner",
) -> DataFrame:
    """Local (per-pixel) map algebra between two tile layers — the
    raster workhorse the reference's chunk model implies but leaves
    to clients: band difference, NDVI-style normalized ratios,
    masking by min/max.  `op` ∈ add/sub/mul/div/min/max/ndiff.

    One equi-join on (res_bits, cell) — co-partitioned tile tables
    join with no shuffle of the big side under the same bucketing
    the spatial joins use — and ONE `zip_with` over the pixel
    arrays: pure JVM, no Python, cost linear in pixels.  Tiles
    present in only one layer drop (`how='inner'`, the documented
    semantics; pass 'left' to keep layer-a tiles with NULL pixels).
    Mismatched tile dimensions raise at execution (assert_true).

    Returns (res_bits, cell, px, py, tile)."""
    if op not in _ALGEBRA_OPS:
        raise ValueError(
            f"op must be one of {sorted(_ALGEBRA_OPS)}, got {op!r}"
        )
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    f = _ALGEBRA_OPS[op]
    b = layer_b.select(
        "res_bits", "cell",
        F.col("px").alias("_bpx"), F.col("py").alias("_bpy"),
        F.col("tile").alias("_btile"),
    )
    joined = layer_a.join(b, ["res_bits", "cell"], how)
    combined = F.when(
        F.col("_btile").isNull(),  # left-join miss
        F.transform("tile", lambda a: F.lit(None).cast("double")),
    ).otherwise(F.zip_with("tile", "_btile", f))
    dims_ok = F.col("_btile").isNull() | (
        (F.col("px") == F.col("_bpx")) & (F.col("py") == F.col("_bpy"))
    )
    # assert_true returns NULL when the condition holds and raises
    # otherwise; folding it into the tile expression keeps it from
    # being pruned away
    return joined.select(
        "res_bits",
        "cell",
        "px",
        "py",
        F.when(
            F.assert_true(
                dims_ok, F.lit("map_algebra: tile dimensions differ")
            ).isNull(),
            combined,
        ).alias("tile"),
    )


# focal mean: one division of two canonical int64 sums (the
# flow_field FLOW_MEAN_SQL convention) — NULL never occurs (every
# pixel has itself in its window)
FOCAL_MEAN_SQL = "CAST({S} AS DOUBLE) / CAST({n} AS DOUBLE)"


def _pixel_lattice(
    tiles: DataFrame,
    res_bits: int,
    fp_scale: int,
) -> tuple[DataFrame, int, int]:
    """De-interleave one resolution's tiles to the GLOBAL pixel
    lattice (gx, gy, v_fp) — fixed-point int64 values so every
    downstream aggregate is exact.  Shared by focal_stats /
    downsample / terrain / contour.

    NULL tile elements (the holes ``downsample`` leaves under
    partial coverage) are DROPPED here — posexplode emits them as
    rows, and a NULL-valued lattice row would silently corrupt
    every count(*)-based completeness/denominator guard downstream
    (deflated overview means, fabricated gradients at hole borders,
    phantom contour segments).  A missing pixel behaves exactly
    like a missing tile.

    The level's own rows decide px/py (a multi-resolution pyramid
    table may store different dims per level).  Returns
    (pixels, px, py)."""
    lvl = tiles.filter(F.col("res_bits") == res_bits)
    first = lvl.select("px", "py").first()
    if first is None:
        raise ValueError(f"no tiles at res_bits={res_bits}")
    px, py = first["px"], first["py"]
    fp = F.lit(float(fp_scale))
    pixels = (
        lvl.select(
            C.squash2_col(F.col("cell")).alias("_ix"),
            C.squash2_col(F.shiftrightunsigned(F.col("cell"), 1))
            .alias("_iy"),
            F.posexplode("tile").alias("_k", "_v"),
        )
        .filter(F.col("_v").isNotNull())
        .select(
            (F.col("_ix") * px + F.col("_k") % px).alias("gx"),
            (F.col("_iy") * py + (F.col("_k") / px).cast("int")).alias("gy"),
            F.floor(F.col("_v") * fp).cast("long").alias("v_fp"),
        )
    )
    return pixels, int(px), int(py)


def focal_stats(
    tiles: DataFrame,
    res_bits: int,
    ring: int = 1,
    fp_scale: int = 1_000_000,
) -> DataFrame:
    """Focal (neighborhood) statistics per pixel — the third raster
    algebra class next to LOCAL (``map_algebra``) and ZONAL
    (``zonal_pixel_stats``): each pixel aggregates its
    (2·ring+1)² window ACROSS TILE BOUNDARIES, giving smoothing
    (mean), erosion (min), dilation (max) in one pass.

    Tiles de-interleave to GLOBAL pixel coordinates (gx, gy), each
    pixel explodes onto its window keys, and one partial-aggregated
    groupBy collects the window — the hotspot_cells machinery on the
    pixel lattice, so there is no per-tile halo exchange to
    hand-build and no Python anywhere.  Cost: pixels × window size.
    World edges and absent tiles follow the occupied convention:
    n_win counts the pixels actually present.

    Determinism: values enter as floor(v·fp_scale) int64, so
    sum/min/max are exact and the mean is ONE shared-string division
    (``FOCAL_MEAN_SQL``).

    Returns (gx, gy, v_fp, n_win, sum_fp, min_fp, max_fp, mean_fp)."""
    if ring < 1:
        raise ValueError("ring must be >= 1")
    pixels, px, py = _pixel_lattice(tiles, res_bits, fp_scale)
    offsets = [
        (dx, dy)
        for dx in range(-ring, ring + 1)
        for dy in range(-ring, ring + 1)
    ]
    contrib = pixels.select(
        F.explode(
            F.array(*[
                F.struct(
                    (F.col("gx") + F.lit(dx)).alias("tx"),
                    (F.col("gy") + F.lit(dy)).alias("ty"),
                )
                for dx, dy in offsets
            ])
        ).alias("t"),
        "v_fp",
    ).select(
        F.col("t.tx").alias("gx"), F.col("t.ty").alias("gy"), "v_fp"
    )
    win = contrib.groupBy("gx", "gy").agg(
        F.count("*").cast("long").alias("n_win"),
        F.sum("v_fp").alias("sum_fp"),
        F.min("v_fp").alias("min_fp"),
        F.max("v_fp").alias("max_fp"),
    )
    return (
        pixels.join(win, ["gx", "gy"])  # occupied pixels only
        .withColumn(
            "mean_fp",
            F.expr(FOCAL_MEAN_SQL.format(S="sum_fp", n="n_win")),
        )
    )


# overview pixel value: ONE division of canonical int64 moments —
# mean = sum_fp / (n_in * fp_scale); min/max = extreme_fp / fp_scale
OVERVIEW_MEAN_SQL = "CAST({S} AS DOUBLE) / CAST({n} * {fp} AS DOUBLE)"
OVERVIEW_EXT_SQL = "CAST({m} AS DOUBLE) / CAST({fp} AS DOUBLE)"


def downsample(
    tiles: DataFrame,
    res_bits: int,
    factor: int = 2,
    agg: str = "mean",
    fp_scale: int = 1_000_000,
) -> DataFrame:
    """Overview (pyramid-level) build: aggregate `factor`×`factor`
    pixel blocks of the global lattice into one coarser pixel and
    re-assemble TILE rows at `res_bits - log2(factor)` — the raster
    twin of ``tile_pyramid`` and the layer a map server pre-builds
    so zoomed-out queries read 1/factor² of the data.  The
    reference stores one chunk table per resolution and picks with
    selectResolution (AccumuloRasterQueryPlanner.scala:94-106);
    this operator MAKES those coarser levels.

    Shape: de-interleave to (gx, gy, v_fp), ONE partial-aggregated
    groupBy on the coarse key (gx//factor, gy//factor), then ONE
    groupBy per parent cell assembling the px·py array via a sorted
    (k, v) map — all JVM, cost linear in pixels.  Parent tiles keep
    the child tiles' px×py dims; blocks missing source pixels
    (absent child tiles under partial coverage) still aggregate
    what exists (`n_in` tells the truth) and pixels with NO source
    stay NULL in the parent array.

    Determinism: `agg='mean'` divides two canonical int64 moments
    (``OVERVIEW_MEAN_SQL``); 'min'/'max' rescale one exact extreme
    (``OVERVIEW_EXT_SQL``).  Chained levels re-quantize per level —
    the standard overview semantics (mean of means), documented.

    Returns TILE_SCHEMA rows at res_bits - log2(factor)."""
    if factor < 2 or factor & (factor - 1):
        raise ValueError("factor must be a power of two >= 2")
    drop = factor.bit_length() - 1
    if res_bits - drop < 0:
        raise ValueError(f"res_bits {res_bits} too coarse for factor {factor}")
    if agg not in ("mean", "min", "max"):
        raise ValueError(f"agg must be mean/min/max, got {agg!r}")
    pixels, px, py = _pixel_lattice(tiles, res_bits, fp_scale)
    coarse = (
        pixels.groupBy(
            (F.col("gx") / factor).cast("long").alias("cgx"),
            (F.col("gy") / factor).cast("long").alias("cgy"),
        )
        .agg(
            F.count("*").cast("long").alias("n_in"),
            F.sum("v_fp").alias("sum_fp"),
            F.min("v_fp").alias("min_fp"),
            F.max("v_fp").alias("max_fp"),
        )
    )
    if agg == "mean":
        val = F.expr(
            OVERVIEW_MEAN_SQL.format(S="sum_fp", n="n_in", fp=fp_scale)
        )
    else:
        val = F.expr(
            OVERVIEW_EXT_SQL.format(m=f"{agg}_fp", fp=fp_scale)
        )
    keyed = coarse.select(
        C.z2_combine(
            (F.col("cgx") / px).cast("long"),
            (F.col("cgy") / py).cast("long"),
        ).alias("cell"),
        (
            (F.col("cgy") % py) * px + (F.col("cgx") % px)
        ).cast("int").alias("k"),
        val.alias("v"),
    )
    assembled = keyed.groupBy("cell").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("k"), F.col("v")))
        ).alias("_m")
    )
    idx = F.sequence(F.lit(0), F.lit(px * py - 1))
    return assembled.select(
        F.lit(res_bits - drop).cast("int").alias("res_bits"),
        "cell",
        F.lit(px).cast("int").alias("px"),
        F.lit(py).cast("int").alias("py"),
        F.transform(
            idx, lambda i: F.element_at(F.col("_m"), i.cast("int"))
        ).alias("tile"),
    )


# Horn gradient, slope as shared strings over EXACT integer moments:
# dz = g_fp / (8 * cellsize * fp_scale) — one division of a
# canonical int64 by a product of exact literals; slope_ratio uses
# only IEEE-exact ops (*, +, /, sqrt) so both engines bit-agree.
TERRAIN_DZ_SQL = "CAST({g} AS DOUBLE) / (8.0 * {cs} * {fp})"
TERRAIN_SLOPE_SQL = "sqrt(({zx}) * ({zx}) + ({zy}) * ({zy}))"


def terrain(
    tiles: DataFrame,
    res_bits: int,
    x_cellsize: float = 1.0,
    y_cellsize: float = 1.0,
    fp_scale: int = 1_000_000,
    sun_azimuth_deg: float = 315.0,
    sun_altitude_deg: float = 45.0,
) -> DataFrame:
    """Terrain surface derivatives — slope, aspect, hillshade via
    Horn's 3×3 method (Horn 1981, the GDAL/ESRI standard) over the
    global pixel lattice, windows crossing tile boundaries exactly
    like ``focal_stats``.

    Shape: each pixel explodes onto the 9 window keys it
    participates in, carrying the Horn weight pair for its offset;
    ONE partial-aggregated groupBy yields EXACT int64 weighted
    gradient sums (weights ±1/±2 · fixed-point values).  Interior
    pixels only (n_win == 9): world edges and absent-tile seams do
    not fabricate gradients.

    Determinism: gx_fp/gy_fp are exact integers; dzdx/dzdy/
    slope_ratio derive via shared strings using only IEEE-exact
    arithmetic (gate-comparable bit-for-bit).  slope_deg /
    aspect_deg / hillshade use atan/atan2/cos — NOT correctly-
    rounded across libms, so they are pytest-verified against numpy
    instead of hash-gated (the hll_distinct precedent).

    aspect_deg: compass degrees clockwise from north, NULL on flat
    cells (the ESRI convention).  hillshade: 0..255.

    Returns (gx, gy, v_fp, gx_fp, gy_fp, dzdx, dzdy, slope_ratio,
    slope_deg, aspect_deg, hillshade)."""
    if x_cellsize <= 0 or y_cellsize <= 0:
        raise ValueError("cellsizes must be positive")
    pixels, px, py = _pixel_lattice(tiles, res_bits, fp_scale)
    # source at offset (dx, dy) from target (dy=+1 north):
    #   wx = dx * (2 if dy==0 else 1)   — east minus west
    #   wy = dy * (2 if dx==0 else 1)   — north minus south
    offsets = [
        (dx, dy, dx * (2 if dy == 0 else 1), dy * (2 if dx == 0 else 1))
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    ]
    contrib = pixels.select(
        F.explode(
            F.array(*[
                F.struct(
                    (F.col("gx") - F.lit(dx)).alias("tx"),
                    (F.col("gy") - F.lit(dy)).alias("ty"),
                    (F.col("v_fp") * F.lit(wx)).alias("cx"),
                    (F.col("v_fp") * F.lit(wy)).alias("cy"),
                )
                for dx, dy, wx, wy in offsets
            ])
        ).alias("t")
    ).select("t.tx", "t.ty", "t.cx", "t.cy")
    grad = (
        contrib.groupBy(
            F.col("tx").alias("gx"), F.col("ty").alias("gy")
        )
        .agg(
            F.count("*").cast("long").alias("n_win"),
            F.sum("cx").alias("gx_fp"),
            F.sum("cy").alias("gy_fp"),
        )
        .filter(F.col("n_win") == 9)
        .drop("n_win")
    )
    cs_x, cs_y, fp = repr(float(x_cellsize)), repr(float(y_cellsize)), repr(float(fp_scale))
    zx = TERRAIN_DZ_SQL.format(g="gx_fp", cs=cs_x, fp=fp)
    zy = TERRAIN_DZ_SQL.format(g="gy_fp", cs=cs_y, fp=fp)
    out = (
        pixels.join(grad, ["gx", "gy"])
        .withColumn("dzdx", F.expr(zx))
        .withColumn("dzdy", F.expr(zy))
        .withColumn(
            "slope_ratio", F.expr(TERRAIN_SLOPE_SQL.format(zx=zx, zy=zy))
        )
    )
    zen = math.radians(90.0 - sun_altitude_deg)
    az = math.radians(sun_azimuth_deg)
    slope_rad = F.atan(F.col("slope_ratio"))
    # downslope vector = (-dzdx, -dzdy) in (east, north) coords;
    # compass bearing of (e, n) = atan2(e, n), normalized to [0, 360)
    compass = (
        F.degrees(F.atan2(-F.col("dzdx"), -F.col("dzdy"))) + F.lit(360.0)
    ) % 360.0
    flat = (F.col("gx_fp") == 0) & (F.col("gy_fp") == 0)
    hs = F.round(
        F.lit(255.0)
        * F.greatest(
            F.lit(0.0),
            F.lit(math.cos(zen)) * F.cos(slope_rad)
            + F.lit(math.sin(zen))
            * F.sin(slope_rad)
            * F.cos(F.lit(az) - (F.radians(compass))),
        )
    ).cast("int")
    return (
        out.withColumn("slope_deg", F.degrees(slope_rad))
        .withColumn(
            "aspect_deg", F.when(~flat, compass)
        )
        .withColumn("hillshade", hs)
    )


# ---------------------------------------------------------------------------
# marching-squares contour extraction (raster -> vector)
# ---------------------------------------------------------------------------

# local-coordinate edge crossing parameters: the linear interpolation
# t = (level - v_a) / (v_b - v_a) over exact int64 fixed-point corner
# values — one subtraction pair + one division, IEEE-exact, so both
# engines bit-agree on every vertex
_MS_T = {
    "B": "(CAST({L} - {bl} AS DOUBLE) / CAST({br} - {bl} AS DOUBLE))",
    "R": "(CAST({L} - {br} AS DOUBLE) / CAST({tr} - {br} AS DOUBLE))",
    "T": "(CAST({L} - {tl} AS DOUBLE) / CAST({tr} - {tl} AS DOUBLE))",
    "L": "(CAST({L} - {bl} AS DOUBLE) / CAST({tl} - {bl} AS DOUBLE))",
}
# edge -> (local x, local y) of the crossing point
_MS_PT = {
    "B": (_MS_T["B"], "0.0"),
    "R": ("1.0", _MS_T["R"]),
    "T": (_MS_T["T"], "1.0"),
    "L": ("0.0", _MS_T["L"]),
}
# case index: bit0=BL bit1=BR bit2=TR bit3=TL, set = corner >= level.
# Saddles (5, 10) use the fixed convention below (no center probe),
# documented; every other case is the standard table.
_MS_SEGS: dict[int, list[tuple[str, str]]] = {
    1: [("L", "B")], 2: [("B", "R")], 3: [("L", "R")],
    4: [("T", "R")], 5: [("L", "T"), ("B", "R")], 6: [("B", "T")],
    7: [("L", "T")], 8: [("L", "T")], 9: [("B", "T")],
    10: [("L", "B"), ("T", "R")], 11: [("T", "R")], 12: [("L", "R")],
    13: [("B", "R")], 14: [("L", "B")],
}


def contour_coord_sql(which: int) -> str:
    """Shared CASE expression for one segment coordinate (0..3 =
    x0, y0, x1, y1) in CELL-LOCAL coordinates, selected by columns
    `mcase` (the 4-bit corner configuration) and `sidx` (0/1, the
    segment ordinal within a saddle).  Placeholders: {L} {bl} {br}
    {tr} {tl}.  Rendered identically into the Spark plan and the
    DuckDB oracle."""
    branches = []
    for case, segs in _MS_SEGS.items():
        for sidx, (e0, e1) in enumerate(segs):
            e = (e0, e1)[which // 2]
            expr = _MS_PT[e][which % 2]
            branches.append(
                f"WHEN mcase = {case} AND sidx = {sidx} THEN {expr}"
            )
    return "CASE " + " ".join(branches) + " END"


def contour(
    tiles: DataFrame,
    res_bits: int,
    level: float,
    fp_scale: int = 1_000_000,
) -> DataFrame:
    """Iso-contour extraction (marching squares) — the raster→vector
    inverse of ``rasterize``: the level set `v = level` as line
    segments over the global pixel lattice, windows crossing tile
    boundaries like every lattice operator here.

    Shape: each pixel explodes onto the ≤4 marching cells it
    corners (the focal trick), one partial-aggregated groupBy
    assembles complete cells (all 4 corners present — seams and
    world edges emit nothing rather than guessing), the 4-bit case
    index selects segments, and every vertex is ONE exact-int
    subtraction pair + ONE division (``contour_coord_sql`` —
    IEEE-exact, so the gate hash-compares the vertices).  Saddle
    cells (cases 5/10) use the fixed no-center-probe convention of
    the classic table; `>= level` counts as inside, so crossing
    edges always have distinct corner values and no division is
    degenerate.  Cost: pixels × 4; output bounded by crossing
    cells.

    Coordinates are GLOBAL PIXEL positions (corner (gx, gy) is
    pixel (gx, gy)'s center); scale by the pixel pitch for lon/lat.

    Returns (cx, cy, mcase, sidx, x0, y0, x1, y1)."""
    pixels, px, py = _pixel_lattice(tiles, res_bits, fp_scale)
    lfp = int(math.floor(float(level) * fp_scale))
    # pixel (gx,gy) corners cells keyed by bottom-left corner:
    # BL of (gx,gy), BR of (gx-1,gy), TL of (gx,gy-1), TR of (gx-1,gy-1)
    corners = pixels.select(
        F.explode(
            F.array(
                F.struct(F.col("gx").alias("cx"), F.col("gy").alias("cy"),
                         F.lit(0).alias("tag")),
                F.struct((F.col("gx") - 1).alias("cx"),
                         F.col("gy").alias("cy"), F.lit(1).alias("tag")),
                F.struct((F.col("gx") - 1).alias("cx"),
                         (F.col("gy") - 1).alias("cy"),
                         F.lit(2).alias("tag")),
                F.struct(F.col("gx").alias("cx"),
                         (F.col("gy") - 1).alias("cy"),
                         F.lit(3).alias("tag")),
            )
        ).alias("c"),
        "v_fp",
    ).select("c.cx", "c.cy", "c.tag", "v_fp")
    cells = (
        corners.groupBy("cx", "cy")
        .agg(
            F.count("*").alias("_n"),
            F.map_from_entries(
                F.collect_list(F.struct("tag", "v_fp"))
            ).alias("_m"),
        )
        .filter(F.col("_n") == 4)
        .select(
            "cx", "cy",
            F.element_at("_m", 0).alias("bl"),
            F.element_at("_m", 1).alias("br"),
            F.element_at("_m", 2).alias("tr"),
            F.element_at("_m", 3).alias("tl"),
        )
    )
    above = [
        F.when(F.col(c) >= F.lit(lfp), F.lit(1 << i)).otherwise(F.lit(0))
        for i, c in enumerate(["bl", "br", "tr", "tl"])
    ]
    cased = cells.withColumn(
        "mcase", sum(above[1:], above[0]).cast("int")
    ).filter(~F.col("mcase").isin(0, 15))
    segs = cased.select(
        "*", F.explode(F.array(F.lit(0), F.lit(1))).alias("sidx")
    ).filter(
        (F.col("sidx") == 0) | F.col("mcase").isin(5, 10)
    )
    fmt = dict(L=str(lfp), bl="bl", br="br", tr="tr", tl="tl")
    out_cols = []
    for i, name in enumerate(["x0", "y0", "x1", "y1"]):
        base = F.expr(contour_coord_sql(i).format(**fmt))
        anchor = F.col("cx" if i % 2 == 0 else "cy").cast("double")
        out_cols.append((anchor + base).alias(name))
    return segs.select("cx", "cy", "mcase", "sidx", *out_cols)


# ---------------------------------------------------------------------------
# D8 hydrology: flow direction + flow accumulation
# ---------------------------------------------------------------------------

# ESRI D8 neighbor order: precedence index -> (dx, dy, code, dist);
# dy=+1 is north (larger gy).  Codes are the classic powers of two
# (E=1, SE=2, S=4, SW=8, W=16, NW=32, N=64, NE=128); ties resolve to
# the LOWEST precedence index — a fixed total order.
_D8 = [
    (1, 0, 1, 1.0), (1, -1, 2, math.sqrt(2.0)), (0, -1, 4, 1.0),
    (-1, -1, 8, math.sqrt(2.0)), (-1, 0, 16, 1.0),
    (-1, 1, 32, math.sqrt(2.0)), (0, 1, 64, 1.0),
    (1, 1, 128, math.sqrt(2.0)),
]

# drop rate to one neighbor: exact int64 elevation difference, ONE
# IEEE-exact division by the (1 or sqrt2) literal — both engines
# bit-agree, so comparisons (and the argmax) are deterministic
D8_RATE_SQL = "CAST({vp} - {vn} AS DOUBLE) / {dist}"


def flow_direction(
    tiles: DataFrame,
    res_bits: int,
    fp_scale: int = 1_000_000,
) -> DataFrame:
    """D8 flow direction per interior pixel — hydrology step one:
    each cell drains to the steepest-descent neighbor of its 3×3
    window (drop / distance, diagonals √2 further), code = the
    classic power-of-two compass (E=1 … NE=128), 0 for pits and
    flats (no positive drop).  Interior pixels only (all 8
    neighbors present) — seams and holes never fabricate drainage.

    Shape: the terrain contribution explode (each pixel posts its
    value to the 8 windows it borders, tagged with the receiving
    side's precedence index), one join to the pixel's own value,
    one partial-aggregated min(struct) argmax — exact int64 drops,
    one IEEE-exact division per neighbor (``D8_RATE_SQL``), ties to
    the lowest precedence index.

    Returns (gx, gy, v_fp, d8, drop_fp): `d8` the direction code,
    `drop_fp` the winning raw int64 drop (0 for pits/flats)."""
    pixels, px, py = _pixel_lattice(tiles, res_bits, fp_scale)
    contrib = pixels.select(
        F.explode(
            F.array(*[
                F.struct(
                    (F.col("gx") - F.lit(dx)).alias("tx"),
                    (F.col("gy") - F.lit(dy)).alias("ty"),
                    F.lit(i).alias("tag"),
                    F.col("v_fp").alias("vn"),
                )
                for i, (dx, dy, _, _) in enumerate(_D8)
            ])
        ).alias("c")
    ).select("c.tx", "c.ty", "c.tag", "c.vn")
    j = contrib.join(
        pixels.select(
            F.col("gx").alias("tx"), F.col("gy").alias("ty"), "v_fp"
        ),
        ["tx", "ty"],
    )
    rate = F.when(
        F.col("tag") == 0,
        F.expr(D8_RATE_SQL.format(vp="v_fp", vn="vn", dist="1.0")),
    )
    for i, (_, _, _, dist) in enumerate(_D8):
        if i == 0:
            continue
        rate = rate.when(
            F.col("tag") == i,
            F.expr(
                D8_RATE_SQL.format(vp="v_fp", vn="vn", dist=repr(dist))
            ),
        )
    best = (
        j.withColumn("_rate", rate)
        .groupBy(
            F.col("tx").alias("gx"), F.col("ty").alias("gy")
        )
        .agg(
            F.count("*").alias("_n"),
            F.min(
                F.struct(
                    (-F.col("_rate")).alias("nr"),
                    F.col("tag").alias("tag"),
                    (F.col("v_fp") - F.col("vn")).alias("drop_fp"),
                )
            ).alias("b"),
            F.first("v_fp").alias("v_fp"),
        )
        .filter(F.col("_n") == 8)
    )
    code_expr = None
    for i, (_, _, code, _) in enumerate(_D8):
        code_expr = (
            F.when(F.col("b.tag") == i, F.lit(code)) if code_expr is None
            else code_expr.when(F.col("b.tag") == i, F.lit(code))
        )
    return best.select(
        "gx", "gy", "v_fp",
        F.when(F.col("b.nr") >= 0, F.lit(0))
        .otherwise(code_expr).cast("int").alias("d8"),
        F.when(F.col("b.nr") >= 0, F.lit(0))
        .otherwise(F.col("b.drop_fp")).cast("long").alias("drop_fp"),
    )


def _d8_edges(dirs: DataFrame) -> DataFrame:
    """(gx, gy) -> downstream (tx, ty) pairs from a D8 field — the
    ONE code->offset mapping flow_accumulation and watershed share
    (flow_direction owns the inverse)."""
    off = None
    for dx, dy, code, _ in _D8:
        s = F.struct(
            (F.col("gx") + F.lit(dx)).alias("tx"),
            (F.col("gy") + F.lit(dy)).alias("ty"),
        )
        off = (
            F.when(F.col("d8") == code, s) if off is None
            else off.when(F.col("d8") == code, s)
        )
    return dirs.filter(F.col("d8") > 0).select(
        "gx", "gy", off.getField("tx").alias("tx"),
        off.getField("ty").alias("ty"),
    ).localCheckpoint()


def flow_accumulation(
    dirs: DataFrame,
    max_iter: int | None = None,
    method: str = "doubling",
) -> DataFrame:
    """Flow accumulation over a D8 direction field: for every cell,
    the count of cells draining through it (itself included) — the
    stream-network extractor.  Input is ``flow_direction`` output.

    The drainage graph is functional (out-degree ≤ 1) and acyclic
    (strictly positive drops), and paths are UNIQUE — so the
    ancestor count of `t` equals the number of (source, t) pairs in
    the transitive closure, and the closure builds by POINTER
    DOUBLING (`method='doubling'`, default): keep `jump` = the
    exact-2^k-hop successor (functional, one row per surviving
    source) and `reach` = all ≤2^k-hop pairs; each round composes
    both — ceil(log2(longest path)) rounds instead of one round per
    hop.  Space is O(Σ path lengths) = O(cells · mean depth); for
    lattices whose drainage depth makes that prohibitive,
    `method='linear'` keeps the O(cells) partial-sum propagation
    (acc_{k+1}(t) = 1 + Σ acc_k(upstream), one round per hop).
    Both are driver-synchronized loops with localCheckpoint-pinned
    lineage (the dbscan contract) and raise past `max_iter` (a
    cycle means the input was not a true direction field).

    Returns (gx, gy, acc)."""
    if method not in ("doubling", "linear"):
        raise ValueError(f"unknown method {method!r}")
    # the two methods need very different round budgets: linear is
    # one round PER HOP (deep channels are normal — default 4096),
    # doubling one round per depth DOUBLING (64 covers 2^64)
    if max_iter is None:
        max_iter = 64 if method == "doubling" else 4096
    edges = _d8_edges(dirs)
    if method == "doubling":
        # jump: exact 2^k-hop successor; reach: all pairs within
        # 2^k hops.  reach' = reach ∪ (jump ∘ reach) — a source at
        # exactly 2^k hops extends by everything its landing point
        # reaches within 2^k more; jump' = jump ∘ jump.
        jump = edges
        reach = edges
        # a cycle breaks the unique-path disjointness behind the
        # bare unionAll and reach would grow exponentially — bound
        # rounds by the log of the deepest POSSIBLE path (n cells)
        # so corrupt input fails fast instead of filling the disk
        n_cells = dirs.count()
        log_bound = max(2, int(math.ceil(math.log2(max(n_cells, 2)))) + 1)
        for _ in range(min(max_iter, log_bound)):
            j2 = jump.select(
                F.col("gx").alias("_jx"), F.col("gy").alias("_jy"),
                "tx", "ty",
            )
            ext = (
                jump.join(
                    reach.select(
                        F.col("gx").alias("tx"),
                        F.col("gy").alias("ty"),
                        F.col("tx").alias("_ex"),
                        F.col("ty").alias("_ey"),
                    ),
                    ["tx", "ty"],
                )
                .select(
                    "gx", "gy",
                    F.col("_ex").alias("tx"), F.col("_ey").alias("ty"),
                )
            )
            # unique paths: ext pairs have hop counts in
            # (2^k, 2^{k+1}], disjoint from reach — unionAll is safe
            reach = reach.unionAll(ext).localCheckpoint()
            jump = (
                j2.join(
                    jump.select(
                        F.col("gx").alias("tx"),
                        F.col("gy").alias("ty"),
                        F.col("tx").alias("_nx"),
                        F.col("ty").alias("_ny"),
                    ),
                    ["tx", "ty"],
                )
                .select(
                    F.col("_jx").alias("gx"), F.col("_jy").alias("gy"),
                    F.col("_nx").alias("tx"), F.col("_ny").alias("ty"),
                )
            ).localCheckpoint()
            # an even-length cycle shows up as a jump self-pair long
            # before the round bound — fail with the honest error
            if jump.filter(
                (F.col("tx") == F.col("gx")) & (F.col("ty") == F.col("gy"))
            ).limit(1).count():
                raise RuntimeError(
                    "flow_accumulation: the direction field has a cycle"
                )
            if jump.limit(1).count() == 0:
                ups = reach.groupBy(
                    F.col("tx").alias("gx"), F.col("ty").alias("gy")
                ).agg(F.count("*").alias("_up"))
                return dirs.select("gx", "gy").join(
                    ups, ["gx", "gy"], "left"
                ).select(
                    "gx", "gy",
                    (F.lit(1) + F.coalesce(F.col("_up"), F.lit(0)))
                    .cast("long").alias("acc"),
                )
        raise RuntimeError(
            "flow_accumulation(doubling) did not converge within the "
            "log2(cells) round bound — the direction field has a cycle"
        )
    acc = dirs.select(
        "gx", "gy", F.lit(1).cast("long").alias("acc")
    ).localCheckpoint()
    for it in range(max_iter):
        up = (
            edges.join(
                acc.select(
                    F.col("gx"), F.col("gy"), F.col("acc").alias("_ua")
                ),
                ["gx", "gy"],
            )
            .groupBy(F.col("tx").alias("gx"), F.col("ty").alias("gy"))
            .agg(F.sum("_ua").alias("_in"))
        )
        nxt = (
            acc.join(up, ["gx", "gy"], "left")
            .select(
                "gx", "gy",
                (F.lit(1) + F.coalesce(F.col("_in"), F.lit(0)))
                .cast("long").alias("acc"),
                (F.col("acc") !=
                 (F.lit(1) + F.coalesce(F.col("_in"), F.lit(0))))
                .alias("_chg"),
            )
        ).localCheckpoint()
        changed = nxt.filter(F.col("_chg")).limit(1).count()
        acc = nxt.drop("_chg")
        if changed == 0:
            return acc
    raise RuntimeError(
        f"flow_accumulation did not converge in {max_iter} rounds — "
        "longest drainage path exceeds max_iter or the direction "
        "field has a cycle"
    )


def watershed(
    dirs: DataFrame,
    max_iter: int = 64,
) -> DataFrame:
    """Watershed delineation: label every cell with its TERMINAL
    cell — the pit or edge outlet its D8 path ends at — so equal
    labels = one drainage basin.  Input is ``flow_direction``
    output; cells whose path exits the interior are labeled by the
    first non-interior cell they reach (the edge outlet).

    Pointer jumping on the functional flow graph: ptr(u) = next(u),
    then ptr'(u) = ptr(ptr(u)) where defined — each round doubles
    the distance covered, terminals absorb (a pointer to a cell
    with no pointer is final), so ceil(log2(longest path)) driver-
    synced rounds (the flow_accumulation doubling contract).

    Returns (gx, gy, out_gx, out_gy): pits/flats are their own
    outlet."""
    ptr = _d8_edges(dirs)
    # a DAG's longest path is < n cells, so doubling needs at most
    # ceil(log2(n)) + 1 rounds — corrupt (odd-cycle) input fails at
    # the bound instead of burning max_iter rounds
    n_cells = dirs.count()
    log_bound = max(2, int(math.ceil(math.log2(max(n_cells, 2)))) + 1)
    for _ in range(min(max_iter, log_bound)):
        hop = (
            ptr.join(
                ptr.select(
                    F.col("gx").alias("tx"), F.col("gy").alias("ty"),
                    F.col("tx").alias("_nx"), F.col("ty").alias("_ny"),
                ),
                ["tx", "ty"],
                "left",
            )
            .select(
                "gx", "gy",
                F.coalesce(F.col("_nx"), F.col("tx")).alias("ntx"),
                F.coalesce(F.col("_ny"), F.col("ty")).alias("nty"),
                (
                    F.col("_nx").isNotNull()
                    & ((F.col("_nx") != F.col("tx"))
                       | (F.col("_ny") != F.col("ty")))
                ).alias("_chg"),
            )
        ).localCheckpoint()
        changed = hop.filter(F.col("_chg")).limit(1).count()
        ptr = hop.select(
            "gx", "gy",
            F.col("ntx").alias("tx"), F.col("nty").alias("ty"),
        )
        if changed == 0:
            break
    else:
        raise RuntimeError(
            "watershed did not converge within the log2(cells) "
            "doubling bound — the direction field has a cycle"
        )
    # an EVEN-length cycle converges to self-pointers instead of
    # burning rounds (a 2^m-cycle reaches the self-pointing fixed
    # point); a cell WITH an outgoing edge can never be its own
    # terminal in a DAG, so any such row is corrupt input
    if ptr.filter(
        (F.col("tx") == F.col("gx")) & (F.col("ty") == F.col("gy"))
    ).limit(1).count():
        raise RuntimeError(
            "watershed: the direction field has a cycle"
        )
    return dirs.select("gx", "gy").join(
        ptr, ["gx", "gy"], "left"
    ).select(
        "gx", "gy",
        F.coalesce(F.col("tx"), F.col("gx")).alias("out_gx"),
        F.coalesce(F.col("ty"), F.col("gy")).alias("out_gy"),
    )


# ---------------------------------------------------------------------------
# viewshed (observer line-of-sight)
# ---------------------------------------------------------------------------

# blocked iff an intermediate sample rises strictly above the
# observer->target sightline; slopes compare cross-multiplied so the
# test is EXACT int64 (no division anywhere): a sample at step k of d
# blocks iff (e_k - e_o) * d > (e_t - e_o) * k.  Grazing contact
# (equality) does NOT block — a perfectly flat plane is fully visible.
VIEWSHED_BLOCK_SQL = "(ek - oe) * d > (te - oe) * k"


def viewshed(
    tiles: DataFrame,
    observers: DataFrame,
    res_bits: int,
    radius: int,
    *,
    observer_height_fp: int = 0,
    fp_scale: int = 1_000_000,
) -> DataFrame:
    """Observer visibility over the elevation lattice — which pixels
    within `radius` (Chebyshev) can each observer see.

    The classic R3 viewshed with NEAREST-PIXEL line sampling: the
    observer->target sightline is sampled at integer steps
    k = 1..d-1 along the dominant axis (d = max(|dx|, |dy|)); the
    sample pixel is the round-half-up nearest center,
    ``(2*(o*(d-k) + t*k) + d) div (2*d)`` — non-negative integer
    arithmetic only, so truncating and flooring division agree and
    the DuckDB oracle replays it verbatim.  The visibility test is
    the cross-multiplied slope comparison (``VIEWSHED_BLOCK_SQL``) —
    exact int64, no division, no trig: results are bit-identical
    under any partitioning.

    Shape (all JVM): observers gain their base elevation by one
    lattice join, pair with every lattice pixel in the Chebyshev
    window via a BROADCAST range join (the observer set is small —
    the ``per_source`` contract), explode their d-1 sample steps,
    and resolve sample elevations through ONE equi-join against the
    lattice on the sample pixel key; one partial-aggregated bool_or
    per (observer, target) decides visibility.  Cost is
    O(observers x radius^3) sample rows — bounded, corpus-size
    independent — and the lattice is scanned, never crossed with
    itself.

    Conventions: `observer_height_fp` (fixed-point units) raises the
    eye above the surface at the observer only; samples on MISSING
    pixels (absent tiles / NULL holes) do not block (missing data
    never fabricates an obstruction — the `_pixel_lattice` hole
    convention); observers standing on missing pixels emit nothing;
    self and adjacent targets (d <= 1) have no intermediate samples
    and are always visible.  Overflow bound: |elevation span in fp
    units| * radius must fit int64 — ~9.2e18 / radius, far beyond
    any real surface.

    `observers`: rows (gx, gy) in LATTICE pixel coordinates.
    Returns (obs_gx, obs_gy, gx, gy, d, visible).

    Reference parity: the reference's raster layer stops at
    query/mosaic (RasterStore / mosaicChunks); viewshed extends the
    terrain family (`terrain`, `flow_direction`) the way `hotspot`
    extends density.
    """
    if radius < 1:
        raise ValueError("radius must be >= 1")
    pixels, px, py = _pixel_lattice(tiles, res_bits, fp_scale)
    # observers gain their base elevation by ONE broadcast hash join
    # against the lattice (the observer set is the small side)
    obs = pixels.join(
        F.broadcast(
            observers.select(
                F.col("gx").cast("long"),
                F.col("gy").cast("long"),
            ).distinct()
        ),
        ["gx", "gy"],
    ).select(
        F.col("gx").alias("ogx"),
        F.col("gy").alias("ogy"),
        (F.col("v_fp") + F.lit(int(observer_height_fp))).alias("oe"),
    )
    # bounded O(observers x (2r+1)^2) frame, materialized ONCE so the
    # d<=1 rows and the sample explode below don't each re-scan the
    # lattice (the sssp localCheckpoint convention)
    pairs = pixels.join(
        F.broadcast(obs),
        (F.abs(F.col("gx") - F.col("ogx")) <= radius)
        & (F.abs(F.col("gy") - F.col("ogy")) <= radius),
    ).select(
        "ogx", "ogy", "oe", "gx", "gy",
        F.col("v_fp").alias("te"),
        F.greatest(
            F.abs(F.col("gx") - F.col("ogx")),
            F.abs(F.col("gy") - F.col("ogy")),
        ).alias("d"),
    ).localCheckpoint(eager=True)
    # sample steps: k = 1..d-1 (empty for d <= 1); sample pixel =
    # round-half-up nearest center of the exact rational LOS point
    samples = (
        pairs.filter(F.col("d") >= 2)
        .select(
            "ogx", "ogy", "oe", "gx", "gy", "te", "d",
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.col("d") - 1)
            ).alias("k"),
        )
        .withColumn(
            "sxn",
            2 * (F.col("ogx") * (F.col("d") - F.col("k"))
                 + F.col("gx") * F.col("k")) + F.col("d"),
        )
        .withColumn(
            "syn",
            2 * (F.col("ogy") * (F.col("d") - F.col("k"))
                 + F.col("gy") * F.col("k")) + F.col("d"),
        )
        # integer `div`, never double `/`: exact at any lattice size
        .withColumn("sx", F.expr("sxn div (2 * d)"))
        .withColumn("sy", F.expr("syn div (2 * d)"))
        .drop("sxn", "syn")
    )
    elev = pixels.select(
        F.col("gx").alias("sx"),
        F.col("gy").alias("sy"),
        F.col("v_fp").alias("ek"),
    )
    blocked = (
        samples.join(elev, ["sx", "sy"], "left")
        .withColumn(
            "blk",
            F.when(F.col("ek").isNull(), F.lit(False)).otherwise(
                F.expr(VIEWSHED_BLOCK_SQL)
            ),
        )
        .groupBy("ogx", "ogy", "gx", "gy")
        .agg(F.max("blk").alias("any_blk"))
    )
    return (
        pairs.join(blocked, ["ogx", "ogy", "gx", "gy"], "left")
        .select(
            F.col("ogx").alias("obs_gx"),
            F.col("ogy").alias("obs_gy"),
            "gx", "gy", "d",
            (~F.coalesce(F.col("any_blk"), F.lit(False))).alias(
                "visible"
            ),
        )
    )


# ---------------------------------------------------------------------------
# region group (connected-component labeling of equal-class regions)
# ---------------------------------------------------------------------------


def region_group(
    tiles: DataFrame,
    res_bits: int,
    *,
    fp_scale: int = 1_000_000,
    quant: int = 1,
    connectivity: int = 4,
    max_iter: int = 50,
) -> DataFrame:
    """Region grouping (the classic RegionGroup map-algebra op):
    label every pixel with the connected region of EQUAL-CLASS
    pixels it belongs to, where class = floor(v_fp / quant) —
    ``quant=1`` groups exact fixed-point values (a categorical
    raster), larger quanta band a continuous surface first (the
    reclassify-then-group idiom).

    Distributed shape: the global pixel lattice (`_pixel_lattice` —
    NULL holes behave like missing tiles and never join regions),
    same-class adjacency mined as HALF-WINDOW equi-joins on the
    pixel key (E and S offsets for 4-connectivity, +SE/NE for 8 —
    each undirected edge emitted exactly once, the eps_pairs
    single-meeting contract), then min-label connected components by
    pointer jumping (`dedup.dup_components`, O(log diameter)
    driver-synced rounds).  Pixels with no same-class neighbor label
    themselves.  Exactness: the class is an exact integer floor
    division (pmod form — sign-safe in both engines) and the label
    is the minimum packed pixel id, so the result is deterministic
    under any partitioning.

    Pixel ids pack as gx·2^32 + gy (lattices beyond 2^31 pixels per
    axis would need a wider packing — far past any real zoom).
    Returns (gx, gy, v_fp, vq, region, rx, ry) where region is the
    packed minimum pixel id of the region and (rx, ry) its decode.
    Eager (the component loop is driver-synchronized); the result is
    localCheckpointed and intermediate caches released."""
    if connectivity not in (4, 8):
        raise ValueError("connectivity must be 4 or 8")
    from geomesa_spark.operators.dedup import dup_components

    pixels, _, _ = _pixel_lattice(tiles, res_bits, fp_scale)
    q = int(quant)
    if q <= 0:
        raise ValueError("quant must be positive")
    vq = F.expr(f"(v_fp - pmod(v_fp, {q})) div {q}")
    nid = F.shiftleft(F.col("gx"), 32) + F.col("gy")
    base = pixels.select(
        "gx", "gy", "v_fp", vq.alias("vq"), nid.alias("nid")
    ).persist()

    offs = [(1, 0), (0, 1)]
    if connectivity == 8:
        offs += [(1, 1), (1, -1)]
    right = base.select(
        F.col("gx").alias("_bx"),
        F.col("gy").alias("_by"),
        F.col("vq").alias("_bq"),
        F.col("nid").alias("nb"),
    )
    edge_parts = []
    for dx, dy in offs:
        a = base.select(
            (F.col("gx") + dx).alias("_bx"),
            (F.col("gy") + dy).alias("_by"),
            F.col("vq").alias("_bq"),
            F.col("nid").alias("na"),
        )
        edge_parts.append(
            a.join(right, ["_bx", "_by", "_bq"]).select("na", "nb")
        )
    pairs = edge_parts[0]
    for p in edge_parts[1:]:
        pairs = pairs.unionByName(p)

    comp = dup_components(
        pairs,
        max_iter=max_iter,
        a_col="na",
        b_col="nb",
        unique_pairs=True,
    )
    region = F.least(
        F.coalesce(F.col("canon"), F.col("nid")), F.col("nid")
    )
    out = (
        base.join(comp, base["nid"] == comp["doc"], "left")
        .select(
            "gx",
            "gy",
            "v_fp",
            "vq",
            region.alias("region"),
        )
        .select(
            "*",
            F.shiftrightunsigned(F.col("region"), 32).alias("rx"),
            (F.col("region") % F.lit(4294967296)).alias("ry"),
        )
        .localCheckpoint()
    )
    base.unpersist()
    return out
