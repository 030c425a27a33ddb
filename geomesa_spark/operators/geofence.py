"""Geofencing: enter/exit transition detection per (track, fence).

The reference serves this use case as a live Kafka layer queried
repeatedly with a spatial filter (``LiveKafkaConsumerFeatureSource
.scala:136-191`` — the client polls st_contains over the in-memory
quadtree and diffs states itself).  This operator does the diff in
the engine: given a point-track table and a polygon fence layer,
emit one row per state TRANSITION — the track entered a fence, or
left it — instead of one row per contained point.

Scale design (why this is not a quadratic timeline join):

1. Per-track sequence numbers come from one window on the track key.
2. Containment rows come from the existing PIP machinery
   (``pip_join_broadcast`` — broadcast cover + JVM refine; swap in
   the partitioned/bucketed strategies for huge fence layers), so
   the working set after this step is only the CONTAINED points,
   never |points| × |fences|.
3. Transitions need no access to the outside points: within each
   (track, fence) group ordered by seq, a row whose predecessor is
   not seq-1 is an entry, and a row whose successor is not seq+1 is
   an exit — the gaps in the global sequence ARE the outside
   intervals.  Two narrow window passes over contained rows only.

No Python appears in any physical plan; SQL-expressible for the
DuckDB oracle gate (``geofence``).  ``streaming/geofence`` runs this
operator on each micro-batch and only stitches batch boundaries."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geomesa_spark.functions import cells as C
from geomesa_spark.operators.spatial_join import pip_join_broadcast

__all__ = ["geofence_events"]


def geofence_events(
    points: DataFrame,
    fences: list[tuple[str, str]],
    track_col: str,
    ts_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    cell_col: str = "cell",
    cell_bits: int = C.XY_BITS,
    tiebreak_col: str | None = None,
    bits: int = 8,
    include_open: bool = False,
) -> DataFrame:
    """Enter/exit events for each track against each fence polygon.

    `fences`: [(fence_id, wkt)] — the broadcast-strategy layer shape
    (pip_join_broadcast's contract).  Returns
    (track, fence_id, event, ts, seq) where event is 'enter' (this
    point is inside and the previous track point was not) or 'exit'
    (this point is inside and the NEXT track point is not — the ts
    is the last observed-inside time, the only exit time a point
    sample can attest).  A track whose final point is inside a fence
    has no exit row; `include_open=True` emits a trailing 'open'
    event at the last inside point instead, so downstream state
    reconstruction needs no separate end-of-track join."""
    order = [F.col(ts_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    wtrack = Window.partitionBy(track_col).orderBy(*order)
    pts = points.withColumn("seq", F.row_number().over(wtrack)).withColumn(
        "n_pts", F.count("*").over(Window.partitionBy(track_col))
    )
    inside = pip_join_broadcast(
        pts, fences, bits=bits,
        lon_col=lon_col, lat_col=lat_col,
        cell_col=cell_col, cell_bits=cell_bits,
    ).select(
        F.col(track_col).alias("track"),
        F.col("poly_id").alias("fence_id"),
        F.col(ts_col).alias("ts"),
        "seq",
        "n_pts",
    )
    wfence = Window.partitionBy("track", "fence_id").orderBy("seq")
    prev = F.lag("seq").over(wfence)
    nxt = F.lead("seq").over(wfence)
    flagged = inside.select(
        "track",
        "fence_id",
        "ts",
        "seq",
        (prev.isNull() | (prev != F.col("seq") - 1)).alias("is_enter"),
        # successor missing from the inside set AND the track goes on
        (
            (nxt.isNull() | (nxt != F.col("seq") + 1))
            & (F.col("seq") < F.col("n_pts"))
        ).alias("is_exit"),
        (nxt.isNull() & (F.col("seq") == F.col("n_pts"))).alias("is_open"),
    )
    events = flagged.select(
        "track", "fence_id", "ts", "seq",
        F.explode(
            F.filter(
                F.array(
                    F.when(F.col("is_enter"), F.lit("enter")),
                    F.when(F.col("is_exit"), F.lit("exit")),
                    F.when(
                        F.col("is_open") & F.lit(include_open), F.lit("open")
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("event"),
    )
    return events.select("track", "fence_id", "event", "ts", "seq")
