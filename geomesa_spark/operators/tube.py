"""Tube-select: spatio-temporal corridor join along a track.

Reference (TubeSelectProcess.scala:144-187 + TubeBuilder.scala:
108-185): bin the input track into time-ordered tube bins, buffer
each bin's geometry, query `intersects(geom) AND dtg ∈ [t−Δ, t+Δ]`
per bin, union + dedup. Gap-fill NOFILL keeps the raw points; LINE
interpolates segments between consecutive track points
(TubeBuilder.scala:166-181 `sliding(2)`).

Spark re-expression: the per-bin query loop becomes ONE broadcast
interval+spatial theta-join — tube bins are small (a track), so the
bin table broadcasts; candidates pre-filter on (cell cover, time
window) and refine with an exact vectorized segment-distance test.
Dedup = dropDuplicates(doc_id) (DeDuplicatingIterator analog).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_spark.functions import cells as C
from geomesa_spark.functions import geometry as G

TUBE_BITS = 8


def build_tube(
    track: list[tuple[int, float, float]],
    buffer_deg: float,
    gap_fill: str = "line",
) -> pd.DataFrame:
    """Track [(epoch_sec, lon, lat)] -> tube segment bins.

    gap_fill='line' joins consecutive points into segments
    (TubeBuilder LINE); 'nofill' degenerates each point to a
    zero-length segment (NOFILL). Unknown values raise (the
    reference's FILL option is enum-validated; silently degrading a
    typo like 'LINE' to nofill would drop every between-point match).

    Segments whose shortest path crosses the antimeridian split at
    ±180 (time and latitude interpolated at the seam, both pieces
    sharing the seam point) — a planar segment from 179.8 to -179.8
    would otherwise sweep the whole world through lon 0, matching
    points ~20,000 km off the real track and missing the true
    matches across the seam.
    """
    if gap_fill not in ("line", "nofill"):
        raise ValueError(
            f"unknown gap_fill {gap_fill!r} (expected 'line' or 'nofill')"
        )

    def _idl_pieces(t1, t2, lo1, la1, lo2, la2):
        dx = lo2 - lo1
        if abs(dx) <= 180.0:
            yield (t1, t2, lo1, la1, lo2, la2)
            return
        lo2u = lo2 - 360.0 if dx > 0 else lo2 + 360.0
        b = -180.0 if lo2u < -180.0 else 180.0
        s = (b - lo1) / (lo2u - lo1)
        tm = t1 + s * (t2 - t1)
        lam = la1 + s * (la2 - la1)
        yield (t1, tm, lo1, la1, b, lam)
        yield (tm, t2, -b, lam, lo2, la2)

    track = sorted(track)
    rows = []
    if gap_fill == "line" and len(track) > 1:
        for (t1, lo1, la1), (t2, lo2, la2) in zip(track, track[1:]):
            for piece in _idl_pieces(t1, t2, lo1, la1, lo2, la2):
                rows.append(piece + (buffer_deg,))
    else:
        for t, lo, la in track:
            rows.append((t, t, lo, la, lo, la, buffer_deg))
    return pd.DataFrame(
        rows, columns=["ts1", "ts2", "x1", "y1", "x2", "y2", "buf"]
    )


def tube_select(
    points: DataFrame,
    track: list[tuple[int, float, float]],
    buffer_deg: float,
    time_delta_sec: int,
    gap_fill: str = "line",
    lon_col: str = "lon",
    lat_col: str = "lat",
    dtg_col: str = "dtg",
    cell_col: str = "cell",
    cell_bits: int = C.XY_BITS,
    bits: int = TUBE_BITS,
    id_col: str = "doc_id",
    buffer_in_meters: bool = False,
) -> DataFrame:
    """Docs within the buffer of the track AND within ±Δ of the
    corresponding segment's time span. Dedup by id.

    `buffer_in_meters=True` converts the buffer to degrees at the
    track's centroid latitude before evaluation — the reference's
    own rule (TubeBuilder.scala:50-60 converts the dwithin meters at
    the input geometry's centroid, single-step): the converted value
    IS the tube's planar match radius, so no extra poleward step or
    sub-pole clamp (a clamp under-buffers polar tracks ~5x at
    89.8°)."""
    spark = points.sparkSession
    if buffer_in_meters:
        lats = [la for _, _, la in track] or [0.0]
        c_lat = abs(sum(lats) / len(lats))
        buffer_deg = G.meters_to_degrees(buffer_deg, c_lat)
    tube = build_tube(track, buffer_deg, gap_fill)
    if len(tube) == 0:  # empty track: empty result, valid schema
        return points.limit(0)

    # cell cover per segment (bbox of segment + buffer); polyfill
    # coarsens big boxes below `bits`, so covers join per distinct
    # resolution group (a cover cell must be compared against the
    # point's parent cell at the SAME resolution)
    seg_rows = []
    for i, r in tube.iterrows():
        xmin = min(r.x1, r.x2) - buffer_deg
        xmax = max(r.x1, r.x2) + buffer_deg
        ymin = max(min(r.y1, r.y2) - buffer_deg, -90.0)
        ymax = min(max(r.y1, r.y2) + buffer_deg, 90.0)
        box = G.parse_wkt(G.box_wkt(xmin, ymin, xmax, ymax))
        from geomesa_spark.plans import cover as V

        cells_, used = V.polyfill(box, bits)
        seg_rows.append(
            pd.DataFrame(
                {
                    "pcell": cells_,
                    "pbits": used,
                    "seg_id": i,
                    "ts1": int(r.ts1),
                    "ts2": int(r.ts2),
                    "x1": r.x1,
                    "y1": r.y1,
                    "x2": r.x2,
                    "y2": r.y2,
                    "buf": r.buf,
                }
            )
        )
    cover_pdf = pd.concat(seg_rows, ignore_index=True)
    es = F.unix_timestamp(F.col(dtg_col))
    joined = None
    for pbits, grp in cover_pdf.groupby("pbits"):
        cov = F.broadcast(spark.createDataFrame(grp.drop(columns=["pbits"])))
        pts = points.withColumn(
            "_pcell", C.cell_parent(F.col(cell_col), cell_bits, int(pbits))
        )
        j = pts.join(cov, pts["_pcell"] == cov["pcell"], "inner")
        joined = j if joined is None else joined.unionByName(j)
    joined = joined.filter(
        (es >= F.col("ts1") - F.lit(time_delta_sec))
        & (es <= F.col("ts2") + F.lit(time_delta_sec))
    )
    # exact point-to-segment distance via the ONE shared kernel
    # (geometry_sql.pt_seg_d2_sql: t-clamped projection, zero-length
    # segments degrade to the point distance) — no Python, and no
    # private copy that could drift from the other segment refines
    from geomesa_spark.functions import geometry_sql as GS

    d2 = GS.pt_seg_d2_sql(lon_col, lat_col, "x1", "y1", "x2", "y2")
    refined = joined.filter(F.expr(f"{d2} <= buf * buf"))
    return refined.drop(
        "_pcell", "pcell", "seg_id", "ts1", "ts2", "x1", "y1", "x2", "y2", "buf"
    ).dropDuplicates([id_col])
